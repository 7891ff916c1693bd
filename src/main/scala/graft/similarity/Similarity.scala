package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextPrims
import graft.functions.VectorExprs.dotp
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>[64]`): brute-force cosine top-k as the exact baseline, a
  * sign-random-projection LSH-bucketed variant as the scale path, kNN label
  * classification, and embedding-cosine near-dup pairs.
  *
  * Scale design:
  *  - brute-force top-k broadcasts the (small) query set and scans
  *    candidates once — O(|C|·|Q|) with no all-pairs shuffle;
  *  - the LSH variant turns the cross product into an equi-join on a
  *    bucket key — the only shape that survives 100 TB;
  *  - dot products run in a custom codegen'd Catalyst expression
  *    (graft.functions.DotProduct) — the higher-order-function form is
  *    interpreted and dominates the join otherwise;
  *  - vector norms are computed ONCE per vector before any join (3 folds
  *    per pair → 1), the same factorization a production ANN system uses.
  *
  * All float math is widened to double and folded in a FIXED sequential
  * order, so cosine values are bit-identical across engines/partitionings.
  *
  * Generalizes the reference's hand-rolled broadcast kNN
  * (knn_classification.py:124-164) to relational form:
  * broadcast-join + window top-k + vote aggregation (SURVEY.md §2.9).
  */
/** Scale/recall knobs for the ANN surface — defaults match the oracle
  * fixtures; at 100 TB, retuning (wider k, more LSH planes → smaller
  * buckets, more IVF probes) is a call-site config, not a code edit (the
  * same move as dedup.DedupConfig). Plane p is derived per-index from a
  * fixed key, so configs with more planes EXTEND smaller ones: an
  * n-plane bucket id is a prefix of the (n+m)-plane id, which makes
  * recall monotone in numPlanes (coarser buckets ⊇ finer buckets). */
final case class SimConfig(k: Int = 5, numPlanes: Int = 8, dim: Int = 64) {
  require(k > 0, s"k must be positive, got $k")
  require(numPlanes > 0 && dim > 0, s"bad plane config ($numPlanes, $dim)")
}
object SimConfig { val Default: SimConfig = SimConfig() }

object Similarity {
  val K: Int = SimConfig.Default.k
  val NumPlanes: Int = SimConfig.Default.numPlanes
  val Dim: Int = SimConfig.Default.dim

  /** Deterministic LSH hyperplanes — md5-derived, identical on JVM and in
    * the oracle SQL (TextPrims.unitFromKey). */
  def planesFor(cfg: SimConfig): Array[Array[Double]] =
    Array.tabulate(cfg.numPlanes, cfg.dim)(
      (p, d) => TextPrims.unitFromKey(s"plane$p#$d"))
  lazy val planes: Array[Array[Double]] = planesFor(SimConfig.Default)

  // ------------------------------------------------------- double-exact math
  def cosineFromNorms(d: Column, na: Column, nb: Column): Column = d / (na * nb)

  private def planeLit(ps: Array[Array[Double]], p: Int): Column =
    array(ps(p).toIndexedSeq.map(lit): _*).cast(ArrayType(DoubleType))
  /** LSH bucket id: concatenated signs of projections onto the planes. */
  def bucket(e: Column, cfg: SimConfig = SimConfig.Default): Column = {
    // reuse the cached default planes — planesFor re-derives numPlanes×dim
    // md5 unit values per call
    val ps = if (cfg == SimConfig.Default) planes else planesFor(cfg)
    concat((0 until cfg.numPlanes).map(p =>
      when(dotp(e, planeLit(ps, p)) >= 0, lit("1")).otherwise(lit("0"))): _*)
  }

  /** embeddings with double-cast vector `e` and precomputed norm `nrm`. */
  private def emb(s: SparkSession, dir: String): DataFrame = {
    val e = col("embedding").cast(ArrayType(DoubleType))
    Tables.load(s, dir, "embeddings")
      .withColumn("e", e)
      .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
  }

  /** Brute-force cosine top-k: exact ANN baseline. Queries (vec_id < 10)
    * broadcast against all candidates; window top-k per query. */
  def cosineTopK(s: SparkSession, dir: String,
                 cfg: SimConfig = SimConfig.Default): DataFrame = {
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val cand = all.select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
      col("nrm").as("nn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"), col("nn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cfg.k)
      .select(col("query_id"), col("neighbor_id"),
        col("rk").cast(IntegerType).as("rk"), round(col("sim"), 6).as("cosine"))
      .orderBy("query_id", "rk")
  }

  /** q300's shard fan-out. */
  val ScatterShards = 8

  /** q300: SCATTER-GATHER TOP-K — the distributed-SERVING algebra of
    * exact search, executed: the corpus hash-shards into
    * [[ScatterShards]] partitions, every shard answers the query set
    * with its LOCAL top-k, and the gather stage re-ranks the ≤
    * shards·k survivors into the global answer. Correctness is the
    * scatter-gather lemma (any global top-k member is a fortiori in
    * its own shard's top-k, so the local cut never loses a winner) —
    * and the oracle is q31's single-scan top-k VERBATIM, so the green
    * hash executes the lemma rather than assuming it (the q262/q299
    * certificate move).
    *
    * Shape at 100 TB: this IS how a sharded vector service answers —
    * each shard scans only its slice (per-shard heap of k), the
    * coordinator merges shards·k candidate rows per query. The gather
    * input is k·S rows per query regardless of corpus size; nothing
    * global ever materializes. */
  def scatterGatherTopK(s: SparkSession, dir: String,
                        cfg: SimConfig = SimConfig.Default,
                        shards: Int = ScatterShards): DataFrame = {
    require(shards >= 2, s"shards out of range: $shards")
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"))
    val cand = all.select(col("vec_id").as("neighbor_id"),
      col("e").as("ne"), col("nrm").as("nn"),
      pmod(col("vec_id"), lit(shards.toLong)).as("shard"))
    val wLocal = Window.partitionBy(col("query_id"), col("shard"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val local = cand.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"), col("nn")))
      .withColumn("lrk", row_number().over(wLocal))
      .filter(col("lrk") <= cfg.k)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    val wG = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    local.withColumn("rk", row_number().over(wG))
      .filter(col("rk") <= cfg.k)
      .select(col("query_id"), col("neighbor_id"),
        col("rk").cast(IntegerType).as("rk"),
        round(col("sim"), 6).as("cosine"))
      .orderBy("query_id", "rk")
  }

  /** LSH-bucketed ANN: same queries, but candidates restricted to the
    * query's sign-random-projection bucket — the cross product becomes an
    * equi-join on the bucket key (the 100 TB shape; recall < 1 by design). */
  def annLsh(s: SparkSession, dir: String,
             cfg: SimConfig = SimConfig.Default): DataFrame = {
    val all = emb(s, dir).withColumn("bkt", bucket(col("e"), cfg))
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("bkt"))
    val cand = all.select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
      col("nrm").as("nn"), col("bkt"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand.join(broadcast(q), "bkt")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"), col("nn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cfg.k)
      .select(col("query_id"), col("neighbor_id"),
        col("rk").cast(IntegerType).as("rk"), round(col("sim"), 6).as("cosine"))
      .orderBy("query_id", "rk")
  }

  /** Distributed kNN classification (SURVEY.md §2.9 relational form):
    * test = vec_id % 7 == 0, train = rest; k=5 cosine neighbors; majority
    * vote with (count desc, label asc) tie-break. */
  def knnClassify(s: SparkSession, dir: String): DataFrame =
    knnPredictions(s, dir)
      .select(col("query_id").as("vec_id"),
        col("n_label").cast(IntegerType).as("pred_label"),
        (col("n_label") === col("true_label")).cast(IntegerType).as("correct"))
      .orderBy("vec_id")

  /** (query_id, true_label, predicted n_label) — shared by classification
    * output and the confusion-matrix query. */
  private def knnPredictions(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val test = all.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("label").as("true_label"))
    val train = all.filter(col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn"), col("label").as("n_label"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val neighbors = train.crossJoin(broadcast(test))
      .withColumn("sim",
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"), col("nn")))
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= K)
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("n_label"))
    neighbors
      .groupBy(col("query_id"), col("n_label"), col("true_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
  }

  /** kNN classification via the bounded top-k AGGREGATOR (graft.ml.TopK) —
    * identical semantics to [[knnClassify]] (same oracle SQL), but the
    * neighbor selection is a partial-aggregating top-k instead of a window
    * sort: the shuffle carries O(queries·k) rows, not O(pairs). The 100 TB
    * form of SURVEY §2.9. */
  def knnClassifyAgg(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val test = all.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("label").as("true_label"))
    val train = all.filter(col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("id"), col("e").as("ne"),
        col("nrm").as("nn"), col("label").as("payload"))
    val pairs = train.crossJoin(broadcast(test.drop("true_label")))
      .withColumn("sim",
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"), col("nn")))
      .select("query_id", "sim", "id", "payload")
    val neighbors = graft.ml.TopK.topKPerGroup(pairs, "query_id", K)
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("payload"))
    neighbors
      .groupBy("query_id", "payload")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .join(test.select(col("query_id"), col("true_label")), "query_id")
      .select(col("query_id").as("vec_id"),
        col("payload").cast(IntegerType).as("pred_label"),
        (col("payload") === col("true_label")).cast(IntegerType).as("correct"))
      .orderBy("vec_id")
  }

  /** IVF-style ANN: a deterministic coarse quantizer (graft.ml.LloydExact
    * centers, K cells) partitions the corpus into inverted lists; each query
    * probes ONLY its own cell. Complements annLsh: LSH buckets by random
    * projections, IVF by learned centroids — the two standard scale paths
    * for embedding search. The cell equi-join replaces the cross product;
    * at 100 TB the inverted lists are the partitioning scheme itself
    * (cluster-by cell at write time), so a probe touches 1/K of the data.
    * Recall < 1 by design (nprobe=1). */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    probeIvf(ivfCells(s, dir))

  /** The IVF index frame: Lloyd cell assignment + precomputed norms. */
  private def ivfCells(s: SparkSession, dir: String): DataFrame = {
    val pts = graft.ml.LloydExact.points(s, dir)
    graft.ml.LloydExact
      .assign(pts, graft.ml.LloydExact.centersFor(pts))
      .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
  }

  /** The IVF probe over an index frame (fresh-built or reloaded):
    * queries restricted to their own cell, per-query top-k. */
  private def probeIvf(cells: DataFrame,
                       tombstones: Option[DataFrame] = None): DataFrame = {
    val q = cells.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("cluster"))
    val cand0 = cells.select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
      col("nrm").as("nn"), col("cluster"))
    // deletions never rewrite the index: the (bounded, between
    // compactions) tombstone list broadcasts and anti-joins at probe time
    val cand = tombstones.fold(cand0)(t =>
      cand0.join(broadcast(t), Seq("neighbor_id"), "left_anti"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand.join(broadcast(q), "cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"), col("nn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("query_id"), col("neighbor_id"),
        col("rk").cast(IntegerType).as("rk"), round(col("sim"), 6).as("cosine"))
      .orderBy("query_id", "rk")
  }

  /** q170: PERSISTED VECTOR INDEX round-trip — the ANN family's storage
    * lever: build the IVF index ONCE (Lloyd assignment + norms), WRITE
    * it as parquet PARTITIONED BY cluster (one directory per cell — a
    * single-cell probe prunes to one directory; vectors and norms
    * round-trip losslessly as doubles), then answer the q61 query set
    * from the RELOADED index alone. Hash-equality against q61's oracle
    * proves the persisted index is lossless — the amortization contract
    * every production vector store relies on (build once, probe from
    * storage forever; at 100 TB the index build is the expensive pass
    * and this query certifies it never needs re-running). */
  def annIvfPersisted(s: SparkSession, dir: String): DataFrame = {
    Tables.scratchQuery("q170") { tmp =>
      val path = tmp.resolve("ivf").toString
      ivfCells(s, dir).write.partitionBy("cluster").parquet(path)
      probeIvf(s.read.parquet(path))
    }
  }

  /** q262: TOMBSTONED IVF — the deletion path of a production vector
    * store: the persisted index (q170) is NEVER rewritten when vectors
    * are deleted; a tombstone list (here the deterministic
    * vec_id%10==3 plane, queries exempt) broadcasts and anti-joins at
    * probe time, and compaction is deferred until tombstones grow past
    * a threshold. Results must equal an IVF probe over the corpus
    * WITH the deleted vectors absent — the oracle states exactly that,
    * so hash-equality proves no deleted neighbor leaks into a top-k
    * and no surviving neighbor is lost (ranks re-close over the
    * survivors). The GDPR-shaped operation every 100 TB index needs:
    * delete cost is O(|tombstones|), not an index rebuild. */
  def annIvfTombstones(s: SparkSession, dir: String): DataFrame = {
    Tables.scratchQuery("q262") { tmp =>
      val path = tmp.resolve("ivf").toString
      ivfCells(s, dir).write.partitionBy("cluster").parquet(path)
      val idx = s.read.parquet(path)
      val tomb = idx
        .filter(col("vec_id") % 10 === 3 && col("vec_id") >= 10)
        .select(col("vec_id").as("neighbor_id"))
      probeIvf(idx, Some(tomb))
    }
  }

  /** q265: IVF TOMBSTONE COMPACTION — the step q262 defers: when the
    * tombstone list grows past threshold, fold the deletions into the
    * physical index. The compaction is GENERATIONAL and cell-local —
    * only the cells that actually contain tombstoned vectors are
    * rewritten (anti-join within those partitions → gen1); every
    * untouched cell keeps serving from gen0 unchanged, so compaction
    * cost is O(affected cells), never an index rebuild. The
    * post-compaction probe runs with NO tombstone filter — the
    * exclusion is now physical — and its oracle is q262's VERBATIM:
    * hash-equality proves the rewrite dropped exactly the tombstoned
    * vectors and nothing else, i.e. compact(tombstones) ∘ probe ≡
    * probe(anti-join tombstones). Completes the index lifecycle:
    * build (q61) → persist (q170) → delete (q262) → compact (this).
    *
    * Shape at 100 TB: the affected-cell set is bounded by K (collected
    * as a K-row driver list); the rewrite reads only those partitions
    * (partition pruning on the cluster directory key), and the probe
    * unions two partitioned generations — the LSM-flavored layout
    * production vector stores actually run. */
  def annIvfCompacted(s: SparkSession, dir: String): DataFrame = {
    Tables.scratchQuery("q265") { tmp =>
      val gen0 = tmp.resolve("gen0").toString
      ivfCells(s, dir).write.partitionBy("cluster").parquet(gen0)
      val idx = s.read.parquet(gen0)
      val tombPred = col("vec_id") % 10 === 3 && col("vec_id") >= 10
      val tomb = idx.filter(tombPred)
        .select(col("vec_id").as("neighbor_id"))
      // the cells compaction touches: bounded by K, driver-collected
      val affected = idx.filter(tombPred)
        .select("cluster").distinct().collect()
        .map(_.get(0).toString.toInt)
      // nothing tombstoned → gen0 IS gen1; writing an empty parquet
      // dir would fail schema inference on read, and isin() with zero
      // args is degenerate, so skip the rewrite entirely
      val compacted = if (affected.isEmpty) idx else {
        val gen1 = tmp.resolve("gen1").toString
        idx.filter(col("cluster").isin(affected.map(Integer.valueOf): _*))
          .join(broadcast(tomb),
            col("vec_id") === col("neighbor_id"), "left_anti")
          .write.partitionBy("cluster").parquet(gen1)
        s.read.parquet(gen1).unionByName(
          idx.filter(!col("cluster")
            .isin(affected.map(Integer.valueOf): _*)))
      }
      probeIvf(compacted)
    }
  }

  /** q171: SQ8-QUANTIZED ANN with exact re-rank — the memory-compression
    * path of a production vector store: vectors quantize to int8 with a
    * single global symmetric scale (A = max |component|, computed from
    * the data like a real calibration pass), the brute scan runs on the
    * QUANTIZED vectors (4-8× less memory traffic; every quantized dot
    * product is exact integer arithmetic carried in doubles — 64 dims ×
    * 127² ≈ 10⁶ ≪ 2^53, so no rounding anywhere), the top-`topR`
    * approximate candidates per query are then RE-RANKED by exact
    * full-precision cosine (re-joined by id — the two-stage shape that
    * avoids carrying full vectors through the scan), and the final
    * top-k reports both scores. Every stage is deterministic: the
    * quantized scores are exact integers-over-sqrt expressions, ties
    * break on neighbor_id, and recall < 1 is a property, not noise. */
  def annSq8(s: SparkSession, dir: String, topR: Int = Sq8TopR): DataFrame = {
    val base = emb(s, dir).select(col("vec_id"), col("e"), col("nrm"))
      .localCheckpoint() // three consumers: calibration, scan, re-rank
    val a = base.agg(max(array_max(transform(col("e"), x => abs(x)))))
      .head().getDouble(0)
    val qz = transform(col("e"), x =>
      greatest(least(round(x * lit(127.0) / lit(a), 0), lit(127.0)),
        lit(-127.0)))
    val quant = base.select(col("vec_id"), qz.as("q"))
      .withColumn("qn", sqrt(dotp(col("q"), col("q"))))
    val probes = quant.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("pq"),
        col("qn").as("pn"))
    val wR = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id"))
    val candidates = quant
      .select(col("vec_id").as("neighbor_id"), col("q").as("nq"),
        col("qn").as("nn"))
      .crossJoin(broadcast(probes))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("approx",
        dotp(col("pq"), col("nq")) / (col("pn") * col("nn")))
      .withColumn("rr", row_number().over(wR))
      .filter(col("rr") <= topR)
      .select(col("query_id"), col("neighbor_id"), col("approx"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    candidates
      .join(base.select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn2")), Seq("query_id"))
      .join(base.select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn2")), Seq("neighbor_id"))
      .withColumn("cosine",
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn2"), col("nn2")))
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= K)
      .select(col("query_id"), col("neighbor_id"),
        col("rk").cast(IntegerType).as("rk"),
        round(col("cosine"), 6).as("cosine"),
        round(col("approx"), 6).as("approx_sim"))
      .orderBy("query_id", "rk")
  }

  /** q71: recall@k of the IVF-ANN path against exact brute force — the
    * evaluation loop every production ANN deployment runs (approximation
    * quality is a number, not a hope). Both sides are deterministic, so
    * the per-query hit count is oracle-checkable. */
  /** q236: IVF NPROBE SWEEP — the recall-vs-scan-cost CURVE for the
    * coarse index, per query and probe width: cells rank by coarse
    * distance ‖q − c_j‖² (ties to the smaller cluster id), nprobe = w
    * probes the top-w cells, and the report gives n_scanned (vectors
    * actually touched) and recall@k against the exact top-k for every
    * w ∈ 1..K. This is THE production IVF tuning knob — q71 grades one
    * operating point; this measures the whole frontier, and nprobe = K
    * must land recall 1.0 by construction (probing every cell IS the
    * exact scan), which the spec asserts along with monotonicity.
    *
    * Shape at 100 TB: ONE equi-join of the assignment onto the
    * (|queries|·K)-row ranked-cell frame produces every (query,
    * candidate, cell_rank) exactly once; the w-axis is an explode over
    * 4 ints on that frame, not 4 re-scans; per-(query, w) top-k windows
    * and one hash-agg close it. With codes stored partitioned by cell
    * (q170/q233 layout) the cell_rank ≤ w filter IS partition pruning. */
  def ivfNprobeSweep(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val pts = graft.ml.LloydExact.points(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pts.count()
    try {
      val centers = graft.ml.LloydExact.centersFor(pts)
      val nCells = graft.ml.LloydExact.K
      val q = pts.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("e").as("qe"))
      val wCell = Window.partitionBy("query_id")
        .orderBy(col("cd"), col("cluster"))
      val qcell = q.crossJoin(broadcast(centers))
        .withColumn("cd", dotp(col("c"), col("c")) -
          lit(2.0) * dotp(col("qe"), col("c")))
        .withColumn("cell_rank", row_number().over(wCell))
        .select(col("query_id"), col("qe"), col("cluster"), col("cell_rank"))
      val cand = graft.ml.LloydExact.assign(pts, centers)
        .join(broadcast(qcell), Seq("cluster"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("ed", dotp(col("qe"), col("qe")) -
          lit(2.0) * dotp(col("qe"), col("e")) + dotp(col("e"), col("e")))
        .select(col("query_id"), col("vec_id"), col("cell_rank"), col("ed"))
        .localCheckpoint() // truth + sweep both read it
      val wEx = Window.partitionBy("query_id").orderBy(col("ed"), col("vec_id"))
      val truth = cand.withColumn("rk", row_number().over(wEx))
        .filter(col("rk") <= k).select("query_id", "vec_id")
      val sweep = cand.withColumn("nprobe",
          explode(array((1 to nCells).map(lit): _*)))
        .filter(col("cell_rank") <= col("nprobe"))
      val wS = Window.partitionBy("query_id", "nprobe")
        .orderBy(col("ed"), col("vec_id"))
      val topw = sweep.withColumn("rk", row_number().over(wS))
        .filter(col("rk") <= k).select("query_id", "nprobe", "vec_id")
      val hits = topw.join(truth, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id", "nprobe").agg(count(lit(1)).as("nh"))
      sweep.groupBy("query_id", "nprobe")
        .agg(count(lit(1)).as("n_scanned"))
        .join(hits, Seq("query_id", "nprobe"), "left")
        .select(col("query_id"),
          col("nprobe").cast(IntegerType).as("nprobe"),
          col("n_scanned").cast(IntegerType).as("n_scanned"),
          round(coalesce(col("nh"), lit(0L)).cast(DoubleType) / k, 6)
            .as("recall_at_k"))
        .orderBy("query_id", "nprobe")
        .localCheckpoint()
    } finally { pts.unpersist(); () }
  }

  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val bf = cosineTopK(s, dir).select(col("query_id"), col("neighbor_id"))
    val iv = annIvf(s, dir)
      .select(col("query_id").as("qi"), col("neighbor_id").as("ni"))
    bf.join(iv, bf("query_id") === iv("qi") &&
        bf("neighbor_id") === iv("ni"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("qi")).cast(IntegerType).as("n_hits"),
        (count(col("qi")).cast(DoubleType) / K).as("recall"))
      .orderBy("query_id")
  }

  /** Distance-WEIGHTED kNN vote (the notebook's weights='distance', SURVEY
    * §2.8 M15): each of the k cosine neighbors votes with 1/(1−sim+1e-9);
    * argmax of the per-label weight sum, ties toward the smaller label.
    * Weight sums go through exact DECIMAL(28,9) so the vote is independent
    * of accumulation order (doubles are dyadic — the decimal cast has no
    * cross-engine rounding edge; see LloydExact scaladoc). */
  def knnWeighted(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val test = all.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("label").as("true_label"))
    val train = all.filter(col("vec_id") % 7 =!= 0)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn"), col("label").as("n_label"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("wsum").desc, col("n_label"))
    train.crossJoin(broadcast(test))
      .withColumn("sim",
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"), col("nn")))
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= K)
      .withColumn("w", lit(1.0) / (lit(1.0) - col("sim") + lit(1e-9)))
      .groupBy(col("query_id"), col("n_label"), col("true_label"))
      .agg(sum(col("w").cast(DecimalType(28, 9))).cast(DoubleType).as("wsum"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("query_id").as("vec_id"),
        col("n_label").cast(IntegerType).as("pred_label"),
        (col("n_label") === col("true_label")).cast(IntegerType).as("correct"))
      .orderBy("vec_id")
  }

  /** Confusion matrix of the relational kNN (M12 pivot form, oracle-checked
    * end-to-end: join + window + vote + pivot in one plan). */
  def knnConfusion(s: SparkSession, dir: String): DataFrame = {
    val preds = knnPredictions(s, dir)
    preds
      .groupBy(col("true_label").cast(IntegerType).as("true_label"))
      .pivot(col("n_label").cast(IntegerType), 0 until 10)
      .agg(count(lit(1)))
      .na.fill(0)
      .withColumnsRenamed((0 until 10).map(i => i.toString -> s"p$i").toMap)
      .select(col("true_label") +:
        (0 until 10).map(i => col(s"p$i").cast(IntegerType).as(s"p$i")): _*)
      .orderBy("true_label")
  }

  /** Embedding corpus stats: per-label count and mean L2 norm (codegen'd
    * dot product; one pass, one low-cardinality hash agg). */
  def embeddingStats(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("nrm").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(DoubleType) / count(lit(1)), 6).as("mean_norm"))
      .orderBy("label")

  /** Fixture re-key offset for injected near-dup vectors — a high bit
    * (2^40) so variant ids stay disjoint from real vec_ids at any scale
    * factor (vec_id grows ~2×10^4 per unit sf; a 10^6-style offset would
    * collide near sf≈50). Interpolated into the q34 oracle. */
  private[graft] val VariantVecOffset: Long = 1L << 40

  /** Embedding-cosine near-dup pairs: corpus ∪ scaled (×2, cosine-identical)
    * copies of every 25th vector; candidate pairs from shared LSH bucket,
    * verified by exact cosine ≥ 0.9999. */
  def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir).select(col("vec_id"), col("e"))
    val corpus = base.unionByName(
      base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + VariantVecOffset).as("vec_id"),
          transform(col("e"), x => x * lit(2.0)).as("e")))
      .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
      .withColumn("bkt", bucket(col("e")))
    val a = corpus.select(col("vec_id").as("vec_a"), col("e").as("ea"),
      col("nrm").as("na"), col("bkt"))
    val b = corpus.select(col("vec_id").as("vec_b"), col("e").as("eb"),
      col("nrm").as("nb"), col("bkt"))
    a.join(b, Seq("bkt"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", round(
        cosineFromNorms(dotp(col("ea"), col("eb")), col("na"), col("nb")), 6))
      .filter(col("cosine") >= 0.9999)
      .select("vec_a", "vec_b", "cosine")
      .orderBy("vec_a", "vec_b")
  }

  /** q141: CENTROID-DISTANCE outlier ranking — the embedding-side quality
    * filter of a training-data pipeline: vectors far from their label's
    * centroid are candidate mislabels/noise (the embedding analog of
    * q23's text quality score). Per (label, dim) the centroid mean routes
    * through integer NANO-units (component → DECIMAL(18,9) → ×10⁹ →
    * BIGINT, the meanQuality pattern): the BIGINT sum is exact and its
    * magnitude stays < 2^53 until a label×dim group's component sum
    * exceeds ~9×10⁶ (components are O(1), so that is ~10⁷ rows per
    * (label, dim) — far past any realistic embedding-corpus scale), so
    * the BIGINT→double conversion is exact and the mean is one identical
    * IEEE division chain on both engines. Each vector's squared distance
    * sums its per-dim squares through DECIMAL(38,12): d2 is bounded by
    * dim × max|x−μ|² ≈ 10² regardless of corpus size (the sum is per
    * vector over a fixed 64 dims), so its mantissa ≤ 10^14 < 2^53 and
    * the final decimal→double cast before sqrt is also a single rounding
    * on both engines. Both accumulations are exact and order-independent,
    * so the top-k ranking (distance desc, vec_id) is a pure function of
    * the data on both engines.
    *
    * Shape at 100 TB: posexplode is a narrow map; the centroid agg
    * shuffles on (label, dim) — bounded by #labels × dim, tiny; the
    * centroid frame broadcasts back onto the exploded stream; the
    * per-vector reduce shuffles once on vec_id; the final top-k is a
    * per-label window over #vectors rows. No cross product anywhere. */
  def centroidOutliers(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // exploded ONCE and materialized: both the centroid agg and the
    // distance pass read this frame — without the checkpoint the
    // embeddings scan + 64-way explode would execute twice
    val dims = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")))
      .withColumnRenamed("pos", "dim")
      .withColumn("xd", col("col").cast(DoubleType))
      .drop("col")
      .localCheckpoint()
    val cent = dims.groupBy("label", "dim")
      .agg((sum((col("xd").cast(DecimalType(18, 9)) * 1000000000L)
        .cast(LongType)).cast(DoubleType) / count(lit(1)) /
        lit(1000000000.0)).as("mu"))
    val d2 = dims.join(broadcast(cent), Seq("label", "dim"))
      .withColumn("sq", (col("xd") - col("mu")) * (col("xd") - col("mu")))
      .groupBy("vec_id", "label")
      .agg(sum(col("sq").cast(DecimalType(38, 12))).as("d2"))
    val w = Window.partitionBy("label").orderBy(col("d2").desc, col("vec_id"))
    d2.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("label"), col("rk"), col("vec_id"),
        round(sqrt(col("d2").cast(DoubleType)), 6).as("dist"))
      .orderBy("label", "rk")
      // labels×k rows — materialized so dims' blocks can be freed
      .localCheckpoint()
  }

  /** q164: CROSS-SPLIT EMBEDDING DECONTAMINATION — the embedding-level
    * leakage gate (the fuzzy-match complement of q131's exact 13-gram
    * pass): before an eval batch is blessed, every eval vector is checked
    * for a near-identical TRAIN vector (cosine ≥ `threshold`), because a
    * benchmark item whose embedding collides with training data is
    * contaminated even when its surface text differs. Train membership is
    * the q160 split machinery (md5-bucket of vec_id < 80 — reproducible,
    * engine-independent); candidates come from shared sign-random-
    * projection buckets (positive scaling preserves projection signs, so
    * an exact-duplicate eval vector ALWAYS lands in its source's bucket —
    * recall 1.0 for true leaks), and only bucket collisions pay the exact
    * cosine verify. Per leaked eval vector: its best train match and the
    * match count (the q154 attach-or-reject shape).
    *
    * Fixture eval batch: scaled (×1.5, cosine-identical) copies of every
    * 25th corpus vector — leaked iff their base falls in train — plus
    * component-REVERSED copies of every 17th (decorrelated ⇒ clean), so
    * both verdicts are exercised. Max organic cross-vector cosine in the
    * fixture is 0.51, far under the threshold.
    *
    * Shape at 100 TB: one narrow bucket/norm pass per side, one equi-join
    * on the bucket key (never eval × train), one per-eval window over the
    * (tiny) verified-match set. */
  def crossSplitLeakage(s: SparkSession, dir: String,
                        cfg: SimConfig = SimConfig.Default,
                        threshold: Double = 0.999): DataFrame = {
    val off = VariantVecOffset
    val base = emb(s, dir).select(col("vec_id"), col("e"))
    val split = pmod(TextPrims.hex60C(md5(col("vec_id").cast(StringType))),
      lit(100L))
    val train = base.filter(split < 80)
      .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
      .withColumn("bkt", bucket(col("e"), cfg))
      .select(col("vec_id").as("train_id"), col("e").as("te"),
        col("nrm").as("tn"), col("bkt"))
    val evalBatch = base.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("e"), x => x * lit(1.5)).as("e"))
      .unionByName(base.filter(col("vec_id") % 17 === 0)
        .select((col("vec_id") + 2 * off).as("vec_id"),
          reverse(col("e")).as("e")))
      .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
      .withColumn("bkt", bucket(col("e"), cfg))
      .select(col("vec_id").as("eval_id"), col("e").as("ee"),
        col("nrm").as("en"), col("bkt"))
    val wBest = Window.partitionBy("eval_id")
      .orderBy(col("cosine").desc, col("train_id"))
    val wAll = Window.partitionBy("eval_id")
    evalBatch.join(train, Seq("bkt"))
      .withColumn("cosine", round(
        cosineFromNorms(dotp(col("ee"), col("te")), col("en"), col("tn")), 6))
      .filter(col("cosine") >= threshold)
      .withColumn("rk", row_number().over(wBest))
      .withColumn("n_matches", count(lit(1)).over(wAll).cast(IntegerType))
      .filter(col("rk") === 1)
      .select(col("eval_id"), col("train_id"), col("cosine"), col("n_matches"))
      .orderBy("eval_id")
  }

  /** q181: SEMDEDUP — semantic deduplication (Abbas et al. 2023, public):
    * cluster the corpus with a coarse quantizer, then prune, WITHIN each
    * cluster only, every vector that has an earlier (smaller-id) cluster
    * mate with cosine ≥ `threshold` — the earliest exemplar of each
    * near-identical group survives. This is the embedding-space
    * complement of the MinHash text pass (q28/q154): it removes
    * semantic rephrasings whose surface text shares no shingles.
    *
    * Quantizer: the deterministic exact-Lloyd centers (LloydExact,
    * K=4, 2 rounds — the q57/q61 machinery), probed SPHERICALLY
    * (argmax cosine(e, center), ties to the smaller cluster id).
    * Spherical probe matters: cosine is scale-invariant, so a scaled
    * near-duplicate ALWAYS lands in its source's cell — recall 1.0 for
    * true semantic dups by construction, where the Euclidean argmin
    * could split a pair across cells and mask it.
    *
    * Fixture corpus: embeddings ∪ ×2-scaled copies of every 10th vector
    * ∪ ×0.5-scaled copies of every 15th (both cosine-identical to their
    * base and to each other, so planted groups form exact cliques and
    * the earliest-exemplar rule equals greedy SemDeDup). Max organic
    * cross-vector cosine in the fixture is ~0.51, far under the 0.999
    * threshold — only planted dups prune.
    *
    * Determinism: every cosine is the same fixed-order codegen'd double
    * fold on both engines (DotProduct), rounded to 6 before the
    * threshold compare and the best-exemplar ranking, so the result is
    * a pure function of the data.
    *
    * Shape at 100 TB: the assignment is a broadcast (K-row) cross join
    * + per-vector window — one scan, no shuffle beyond the vec_id
    * window; the pair pass is an equi-join ON THE CELL KEY (never
    * all-pairs): cost is Σ|cell|², the quantity SemDeDup controls by
    * scaling K with the corpus (K ≈ N/1000 keeps cells ~10³). The
    * fixture K is oracle-sized; production K is a config, not a code
    * change (the SimConfig pattern). */
  /** q217: JL-PROJECTION DISTORTION AUDIT — Johnson–Lindenstrauss in
    * practice: project the 64-dim embeddings onto `projDim`
    * deterministic md5-derived random directions and measure, over the
    * q31 query×corpus pairs, how
    * well projected squared distances preserve the true ones. Reports
    * per-query mean/max relative distortion — the number that decides
    * whether a cheap low-dim prefilter (the standard ANN accelerator)
    * is safe for a target recall at this projDim.
    *
    * Determinism: the projection planes are [[planesFor]]'s md5 units
    * (identical on JVM and oracle); projections and distances are
    * fixed-fold dotp expressions; relative errors round to 6dp at the
    * row and aggregate through DECIMAL(18,6) sums.
    *
    * Scale note: the plane entries are Unif[−1,1) (variance 1/3), so
    * the unbiasedness factor is √(1/(projDim·Var)) = √(3/projDim) —
    * NOT the √(dim/projDim) of unit-variance Gaussian projections (a
    * miscalibrated first cut measured exactly the predicted
    * dim·Var·wrongScale²/… ≈ 21× inflation — the audit catches its own
    * calibration class of bug, which is the point of having one).
    *
    * Shape at 100 TB: the projection is a narrow map (projDim dot
    * products per row, codegen'd); the audit pairs are |queries|×N via
    * the q31 broadcast — production audits sample pairs the same way. */
  def jlDistortion(s: SparkSession, dir: String,
                   projDim: Int = 16): DataFrame = {
    val cfg = SimConfig(numPlanes = projDim)
    val ps = planesFor(cfg)
    val scale = math.sqrt(3.0 / projDim)
    def proj(e: Column): Column = array((0 until projDim).map(p =>
      dotp(e, array(ps(p).toIndexedSeq.map(lit): _*)
        .cast(ArrayType(DoubleType))) * lit(scale)): _*)
    val all = emb(s, dir).select(col("vec_id"), col("e"))
      .withColumn("pe", proj(col("e")))
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("pe").as("qpe"))
    val d2 = (a: Column, b: Column) =>
      dotp(a, a) - lit(2.0) * dotp(a, b) + dotp(b, b)
    val d6 = (c: Column) => sum(round(c, 6).cast(DecimalType(18, 6)))
    all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("td", d2(col("qe"), col("e")))
      // exact-duplicate guard: a zero true distance has no relative
      // error (pd/0 would poison the decimal sum with infinity)
      .filter(col("td") =!= 0.0)
      .withColumn("pd", d2(col("qpe"), col("pe")))
      .withColumn("rel", abs(col("pd") / col("td") - 1.0))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n"),
        d6(col("rel")).as("sr"),
        max(round(col("rel"), 6)).as("max_distortion"))
      .select(col("query_id"), col("n").cast(IntegerType).as("n_pairs"),
        round(col("sr").cast(DoubleType) / col("n"), 6)
          .as("mean_distortion"),
        col("max_distortion"))
      .orderBy("query_id")
  }

  /** q199: RETRIEVAL AGREEMENT — overlap@k between a LEXICAL retriever
    * (token-set Jaccard over document text) and a DENSE retriever
    * (q31's brute cosine over embeddings) for the same query documents.
    * The standard hybrid-search diagnostic: low agreement says the two
    * signals are complementary (hybrid retrieval will beat either
    * alone); high agreement says the embedding mostly re-learned
    * lexical overlap. Uses the exact top-k on BOTH sides, so the
    * number measures the retrievers, not an ANN approximation.
    *
    * Shape at 100 TB: the dense side is q31's broadcast-queries scan;
    * the lexical side inverts to (token, doc) rows — the intersection
    * is an equi-join on token against the 10 broadcast query token
    * sets, never doc×doc. Zero-overlap pairs never materialize
    * (ni ≥ 1 by construction, mirrored in the oracle). */
  /** Token-set-Jaccard lexical top-k for the <10 query docs —
    * (query_id, neighbor_id, rk) — shared by q199 (agreement) and
    * q230 (RRF fusion). Materialized: the token scan must not re-run
    * per consumer. */
  private[graft] def lexicalTopK(s: SparkSession, dir: String,
                                 k: Int): DataFrame = {
    val tok = Tables.fanOut(Tables.load(s, dir, "documents"), "doc_id")
      .select(col("doc_id"),
        explode(array_distinct(TextPrims.tokensC(col("text")))).as("token"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tok.count() // eager fill: sizes, query sets and the probe side
    try {
      val sz = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val qtok = tok.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("token"))
      val inter = tok.join(qtok, Seq("token"))
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("ni"))
      val jac = inter
        .join(sz.withColumnsRenamed(
          Map("doc_id" -> "query_id", "sz" -> "qsz")), Seq("query_id"))
        .join(sz, Seq("doc_id"))
        .withColumn("jac", round(col("ni").cast(DoubleType) /
          (col("qsz") + col("sz") - col("ni")).cast(DoubleType), 6))
      val w = Window.partitionBy("query_id")
        .orderBy(col("jac").desc, col("doc_id"))
      jac.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("doc_id").as("neighbor_id"),
          col("rk").cast(IntegerType).as("rk"))
        .localCheckpoint()
    } finally { tok.unpersist(); () }
  }

  def retrievalAgreement(s: SparkSession, dir: String,
                         k: Int = 10): DataFrame = {
    val dense = cosineTopK(s, dir, SimConfig(k = k))
      .select(col("query_id"), col("neighbor_id"))
    val lex = lexicalTopK(s, dir, k)
      .select(col("query_id"), col("neighbor_id"))
    val common = lex
      .join(dense, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("nc"))
    dense.select("query_id").distinct()
      .join(common, Seq("query_id"), "left")
      .withColumn("n_common", coalesce(col("nc"), lit(0L)))
      .select(col("query_id"),
        col("n_common").cast(IntegerType).as("n_common"),
        round(col("n_common").cast(DoubleType) / k, 6).as("overlap_at_k"))
      .orderBy("query_id")
  }

  /** Discount weights 1/log₂(i+1) for ranks 1..k as 12-dp literals —
    * shared verbatim by the Spark side and the oracle (no runtime log,
    * the q204 Benford pattern). */
  /** q331: ENERGY DISTANCE between label clusters (Székely & Rizzo) —
    * the MULTIVARIATE two-sample test the scalar battery (KS q263, W1
    * q303, PSI) cannot run: for embedding samples X, Y the statistic
    * E = 2·E‖X−Y‖ − E‖X−X'‖ − E‖Y−Y'‖ is ≥ 0 with equality iff the
    * DISTRIBUTIONS agree — the drift test to run on embedding space
    * itself (did this month's encoder output move?), reported here for
    * every label pair as the separation matrix a clustering owner
    * reads. V-statistic convention: means over all n² ordered pairs,
    * diagonal included.
    *
    * BOUNDED BY DESIGN: each label contributes its first `perLabel`
    * vectors (vec_id order) — the energy test is a statistic of a
    * SAMPLE, and the production contract is "test on k per group",
    * never all-pairs over the corpus (the L-pair × k² distance frame
    * is constant-sized however big the table gets; the only full-scan
    * work is the sample selection's per-label top-k).
    *
    * Determinism: distances ride the ‖x‖²−2xy+‖y‖² fixed-fold route
    * (q211's), clamped at 0, sqrt (IEEE correctly-rounded, bit-portable),
    * rounded 9 dp into DECIMAL(28,9) sums; closing algebra is fixed
    * double expressions rounded 6 dp. */
  def energyDistance(s: SparkSession, dir: String,
                     perLabel: Int = 64): DataFrame = {
    val byLabel = Window.partitionBy("label").orderBy("vec_id")
    val sample = emb(s, dir)
      .withColumn("rk", row_number().over(byLabel))
      .filter(col("rk") <= perLabel)
      .select(col("label"), col("vec_id"), col("e"))
      .localCheckpoint() // read by the within and cross joins
    def distCol(a: Column, b: Column): Column =
      round(sqrt(greatest(
        dotp(a, a) - lit(2.0) * dotp(a, b) + dotp(b, b), lit(0.0))), 9)
    val within = sample.as("a")
      .join(broadcast(sample.as("b")), col("a.label") === col("b.label"))
      .groupBy(col("a.label").as("label"))
      .agg(count(lit(1)).as("nn"),
        sum(distCol(col("a.e"), col("b.e")).cast(DecimalType(28, 9)))
          .as("sd"))
      .select(col("label"),
        sqrt(col("nn").cast(DoubleType)).cast(LongType).as("n"),
        (col("sd").cast(DoubleType) / col("nn")).as("wmean"))
      .localCheckpoint() // joined twice below
    val cross = sample.as("a")
      .join(broadcast(sample.as("b")), col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(count(lit(1)).as("nm"),
        sum(distCol(col("a.e"), col("b.e")).cast(DecimalType(28, 9)))
          .as("sd"))
      .select(col("label_a"), col("label_b"),
        (col("sd").cast(DoubleType) / col("nm")).as("cmean"))
    cross
      .join(broadcast(within.select(col("label").as("label_a"),
        col("n").as("n_a"), col("wmean").as("wa"))), Seq("label_a"))
      .join(broadcast(within.select(col("label").as("label_b"),
        col("n").as("n_b"), col("wmean").as("wb"))), Seq("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round(col("cmean"), 6).as("cross_mean"),
        round(lit(2.0) * col("cmean") - col("wa") - col("wb"), 6)
          .as("energy"))
      .orderBy("label_a", "label_b")
  }

  /** Shared 12-dp p^(e-1) literals for [[rboRankings]] and its oracle —
    * libm `pow` is NOT bit-portable across engines, so the geometric
    * weights are JVM-computed once and inlined on both sides (the q231
    * discount-literal discipline). */
  private[graft] def rboWeights(p: Double, depth: Int): Seq[Double] =
    (1 to depth).map(e => BigDecimal(math.pow(p, e - 1))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** q328: RANK-BIASED OVERLAP (Webber, Moffat & Zobel, TOIS'10) — the
    * top-weighted similarity of two RANKINGS, the metric to quote when
    * comparing retrieval/curation orderings where the head matters
    * more than the tail (nDCG q231 judges one ranking against graded
    * relevance; RBO compares two rankings against each other):
    * RBO@D = (1−p)·Σ_{e=1..D} (X_e/e)·p^{e−1}, with X_e the overlap of
    * the two depth-e prefixes and p the persistence (0.9 ⇒ the top ~10
    * ranks carry most weight). Truncated sum, no extrapolation — an
    * exactly-defined quantity. Here the two rankings order documents
    * by the two LENGTH proxies every budget pipeline conflates —
    * characters vs BPE tokens — so the number answers "if the token
    * budget were cut by a char budget, would the same heads survive?";
    * reported at depths 1/5/10/25/50 with the raw prefix overlaps.
    *
    * The prefix-overlap trick: a doc ranked ra and rb in the two lists
    * is inside both depth-e prefixes iff max(ra, rb) ≤ e, so X_e is
    * ONE cumulative count over the joined rank pairs — no per-depth
    * set intersection. Ranks come from sort+limit (TakeOrderedAndProject
    * — per-partition heaps, no global row_number window over the
    * corpus); the bounded D-row frames then rank/join/cum-sum driver-
    * cheaply. Weights are shared 12-dp literals; terms round 9 dp into
    * DECIMAL(28,9). */
  def rboRankings(s: SparkSession, dir: String, p: Double = 0.9,
                  depth: Int = 50): DataFrame = {
    val w = rboWeights(p, depth)
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        TextPrims.bpeTokensC(col("text")).cast(LongType).as("toks"))
      .localCheckpoint() // both ranking sorts read it
    def ranked(key: Column, name: String) = {
      val top = docs.orderBy(key.desc, col("doc_id")).limit(depth)
      // bounded D-row frame: the single-partition window is over ≤50 rows
      top.withColumn(name, row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(key.desc, col("doc_id"))))
        .select(col("doc_id"), col(name))
    }
    val joined = ranked(col("n_chars"), "ra")
      .join(ranked(col("toks"), "rb"), Seq("doc_id"))
      .select(greatest(col("ra"), col("rb")).as("md"))
    val depths = s.range(1, depth + 1).toDF("d")
      .select(col("d").cast(IntegerType).as("d"))
    val xd = depths.join(joined, col("md") <= col("d"), "left")
      .groupBy("d").agg(count(col("md")).as("x"))
    val wLit = array(w.map(lit): _*)
    val terms = xd.select(col("d"), col("x"),
      round(col("x").cast(DoubleType) / col("d") *
        element_at(wLit, col("d")), 9).as("term"))
    val byD = org.apache.spark.sql.expressions.Window.orderBy("d")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    terms
      .withColumn("rbo", round(lit(1.0 - p) *
        sum(col("term").cast(DecimalType(28, 9))).over(byD)
          .cast(DoubleType), 6))
      .filter(col("d").isin(1, 5, 10, 25, 50))
      .select(col("d"), col("x").as("overlap"), col("rbo"))
      .orderBy("d")
  }

  private[graft] def ndcgWeights(k: Int): Seq[Double] =
    (1 to k).map(i => BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** q231: nDCG@k — the graded-relevance ranking metric (Järvelin &
    * Kekäläinen): DCG = Σ rel_i/log₂(i+1) over the ranking, normalized
    * by the ideal ordering of the same grades. Here the LEXICAL
    * retriever's top-10 is judged with the dense cosine as the graded
    * relevance (clamped at 0) — "how well does cheap lexical ranking
    * order what the embedding considers similar", the cross-modal
    * ranking-quality number behind hybrid-search weighting decisions.
    *
    * Determinism: grades are 6-dp-rounded cosines; discounts are
    * shared 12-dp literals; per-rank products round to 12dp and sum in
    * DECIMAL(28,12); the ideal permutation re-ranks the same grades
    * with a (grade desc, neighbor) tie-break. */
  def ndcgLexical(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val ws = ndcgWeights(k)
    val wArr = array(ws.map(lit): _*)
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"))
    val lex = lexicalTopK(s, dir, k)
    val graded = lex
      .join(all.select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("rel", greatest(round(
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"), col("nn")),
        6), lit(0.0)))
    val wIdeal = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("neighbor_id"))
    val d12 = (c: Column) => sum(round(c, 12).cast(DecimalType(28, 12)))
    graded
      .withColumn("irk", row_number().over(wIdeal))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n"),
        d12(col("rel") * element_at(wArr, col("rk"))).as("dcg"),
        d12(col("rel") * element_at(wArr, col("irk"))).as("idcg"))
      .select(col("query_id"), col("n").cast(IntegerType).as("n"),
        round(col("dcg").cast(DoubleType), 6).as("dcg"),
        round(col("idcg").cast(DoubleType), 6).as("idcg"),
        when(col("idcg") > 0,
          round(col("dcg").cast(DoubleType) /
            col("idcg").cast(DoubleType), 6)).as("ndcg"))
      .orderBy("query_id")
  }

  /** q230: RECIPROCAL-RANK FUSION — the standard hybrid-search
    * combiner (Cormack et al. 2009): each retriever contributes
    * 1/(60 + rank) per result, missing results contribute nothing,
    * and the fused ranking wins or ties either retriever on virtually
    * every benchmark while needing NO score calibration — precisely
    * the cross-system score-compatibility problem q199 diagnoses. Top
    * 5 fused results per query from the q199 lexical and q31 dense
    * top-10 lists.
    *
    * Determinism: ranks are exact integers; each contribution is the
    * identical 1/(60+r) double on both engines; the ≤2-term per-pair
    * sum accumulates in DECIMAL(28,12) after a 12dp round; ordering
    * ties break on neighbor id. */
  def rrfFusion(s: SparkSession, dir: String,
                k: Int = 10, fuseK: Int = 5): DataFrame = {
    val contrib = round(lit(1.0) / (lit(60) + col("rk")), 12)
      .cast(DecimalType(28, 12))
    val dense = cosineTopK(s, dir, SimConfig(k = k))
      .select(col("query_id"), col("neighbor_id"), contrib.as("c"))
    val lex = lexicalTopK(s, dir, k)
      .select(col("query_id"), col("neighbor_id"), contrib.as("c"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("neighbor_id"))
    dense.unionByName(lex)
      .groupBy("query_id", "neighbor_id")
      .agg(sum("c").as("rrfd"), count(lit(1)).as("n_systems"))
      .withColumn("rrf", col("rrfd").cast(DoubleType))
      .withColumn("frk", row_number().over(w))
      .filter(col("frk") <= fuseK)
      .select(col("query_id"), col("neighbor_id"),
        col("frk").cast(IntegerType).as("rk"),
        col("n_systems").cast(IntegerType).as("n_systems"),
        round(col("rrf"), 12).as("rrf_score"))
      .orderBy("query_id", "rk")
  }

  /** Hot-cell guard for [[semDedup]] (round-9 verdict watch item): the
    * in-cell self-join is O(cell²), and the quantizer's K is fixed, so
    * at 100 TB a dominant cell (one language, one boilerplate family)
    * would go quadratic. This sub-quantizes every cell whose population
    * exceeds `maxCell` with deterministic sign-LSH: `bits` fixed ±1
    * hyperplanes (seeded integer mix — a pure function of (bit, dim),
    * reproducible everywhere), each vector's sub-code is the sign
    * pattern of its hyperplane projections, and the compare key becomes
    * (cluster, sub-code). Spherically coherent — a cosine-0.999 pair
    * splits per bit with probability θ/π ≈ 1.4 %, the same granularity
    * tradeoff raising the quantizer's K makes — and ONE extra narrow
    * map over the hot cells only: no second Lloyd chain, no per-cell
    * driver loop, no shuffle beyond the join that follows anyway.
    * `bits` per hot cell = ⌈log₂(n/maxCell)⌉ (expected sub-cell ≈
    * maxCell for spread data); cold cells keep sub-code 0, so when no
    * cell is hot the keys equal the clusters and the output is
    * BIT-IDENTICAL to the unguarded plan (the fixture/oracle path).
    * Inherent limit, documented: a cell of IDENTICAL vectors cannot be
    * split by any semantic quantizer (every hyperplane agrees); that
    * regime is exact-dup mass and belongs to q26's hash dedup upstream.
    * Returns the cells frame plus a `cell` compare-key column. */
  private[graft] def subQuantize(cells: DataFrame, maxCell: Int): DataFrame = {
    require(maxCell >= 1, s"maxCell out of range: $maxCell")
    // K rows — bounded driver materialization (R7 policy)
    val sizes = cells.groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val hot = sizes.filter(_._2 > maxCell)
    val clusterKey = col("cluster").cast(LongType) * lit(1L << 17)
    if (hot.isEmpty) return cells.withColumn("cell", clusterKey)
    def bitsOf(n: Long): Int =
      math.ceil(math.log(n.toDouble / maxCell) / math.log(2.0)).toInt
        .max(1).min(16)
    val maxBits = hot.map { case (_, n) => bitsOf(n) }.max
    val dim = 64
    // deterministic ±1 hyperplanes from a Weyl/LCG integer mix
    def plane(i: Int): Column = array((0 until dim).map { j =>
      val h = (i * 1000003L + j) * 2654435761L
      lit(if (((h >> 16) & 1L) == 0L) 1.0 else -1.0)
    }: _*)
    val code = (0 until maxBits).map { i =>
      (dotp(col("e"), plane(i)) > 0).cast(LongType) * lit(1L << i)
    }.reduce(_ + _)
    // per-cluster mask: hot cells keep bitsOf(n) low bits, cold cells 0
    val bitsFor = hot.foldLeft(lit(0L)) { case (acc, (c, n)) =>
      when(col("cluster") === c, lit(1L << bitsOf(n))).otherwise(acc)
    }
    cells.withColumn("cell",
      clusterKey + pmod(code, greatest(bitsFor, lit(1L))))
  }

  def semDedup(s: SparkSession, dir: String,
               threshold: Double = 0.999): DataFrame =
    semDedupBounded(s, dir, threshold, maxCell = 100000)

  /** q181 body with the hot-cell bound explicit (the spec drives it with
    * an adversarial bound; [[semDedup]]'s default is far above every
    * fixture cell so the oracle path never re-quantizes). */
  def semDedupBounded(s: SparkSession, dir: String,
                      threshold: Double, maxCell: Int): DataFrame = {
    val off = VariantVecOffset
    val base = emb(s, dir).select(col("vec_id"), col("e"))
    val aug = base
      .unionByName(base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + off).as("vec_id"),
          transform(col("e"), x => x * lit(2.0)).as("e")))
      .unionByName(base.filter(col("vec_id") % 15 === 0)
        .select((col("vec_id") + 2 * off).as("vec_id"),
          transform(col("e"), x => x * lit(0.5)).as("e")))
      .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
    val pts = graft.ml.LloydExact.points(s, dir)
    val centers = graft.ml.LloydExact.centersFor(pts)
      .withColumn("cn", sqrt(dotp(col("c"), col("c"))))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("cluster"))
    // assignment materialized ONCE: both sides of the in-cell self-join
    // read it — without the checkpoint the broadcast-assign subtree
    // (scan + K-way cross + window) executes twice
    val cells = subQuantize(
      aug.crossJoin(broadcast(centers))
        .withColumn("sim",
          cosineFromNorms(dotp(col("e"), col("c")), col("nrm"), col("cn")))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("e"), col("nrm"), col("cluster"))
        .localCheckpoint(),
      maxCell)
    val keep = cells.select(col("cell"), col("cluster"),
      col("vec_id").as("kept_id"), col("e").as("ea"), col("nrm").as("na"))
    val cand = cells.select(col("cell"), col("vec_id"),
      col("e").as("eb"), col("nrm").as("nb"))
    val wBest = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("kept_id"))
    keep.join(cand, Seq("cell"))
      .filter(col("kept_id") < col("vec_id"))
      .withColumn("cosine", round(
        cosineFromNorms(dotp(col("ea"), col("eb")), col("na"), col("nb")), 6))
      .filter(col("cosine") >= threshold)
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cluster"), col("kept_id"), col("cosine"))
      .orderBy("vec_id")
  }

  /** q166: DIVERSE SUBSET SELECTION — greedy max-min (k-center) over the
    * embedding corpus: the coreset/diversity-sampling step that picks k
    * maximally-spread exemplars (dedup's complement — not "drop the
    * near-identical" but "keep the most different"). Start from the min
    * vec_id, then repeatedly select the candidate whose distance to its
    * NEAREST already-selected vector (cosine distance, 1 − cos) is
    * largest, ties to the smaller vec_id. The 2-approximation guarantee
    * of greedy k-center is the standard coverage argument.
    *
    * Determinism: every distance is the same fixed-order double fold on
    * both engines, the argmax key is (distance DESC, vec_id) — a pure
    * function of the data — and each selected vector re-enters the next
    * round as a LITERAL carrying the exact computed bits.
    *
    * Shape at 100 TB: the selection needs NO shuffle at all — each of
    * the k rounds is one narrow map (≤ k codegen'd dot products per row
    * against broadcast-literal exemplars) plus a global top-1 reduce,
    * and the driver holds only the k selected vectors (k × dim doubles).
    * That is the canonical distributed k-center loop; the k small
    * actions ARE the algorithm's sequential dependency. */
  def diverseSelect(s: SparkSession, dir: String,
                    k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 64, s"k out of range: $k")
    val spark = s
    import spark.implicits._
    val cand = emb(s, dir).select(col("vec_id"), col("e"), col("nrm"))
      .localCheckpoint() // k rounds re-scan this; never re-derive the cast
    def distTo(sel: (Long, Array[Double], Double)): Column = {
      val (_, ev, nv) = sel
      lit(1.0) - dotp(col("e"),
        array(ev.toIndexedSeq.map(lit): _*).cast(ArrayType(DoubleType))) /
        (col("nrm") * lit(nv))
    }
    val seed = cand.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("e"), col("nrm"))
      .as[(Long, Array[Double], Double)].head()
    var selected = Vector((seed, Option.empty[Double]))
    while (selected.size < k) {
      val dists = selected.map(p => distTo(p._1))
      val dmin = if (dists.size == 1) dists.head else least(dists: _*)
      val next = cand.withColumn("dm", dmin)
        .orderBy(col("dm").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("e"), col("nrm"), col("dm"))
        .as[(Long, Array[Double], Double, Double)].head()
      selected = selected :+ ((next._1, next._2, next._3), Some(next._4))
    }
    selected.zipWithIndex.map { case (((id, _, _), dm), i) =>
      (i + 1, id, dm.map(d => BigDecimal(d).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toDF("rank", "vec_id", "dist")
      .select(col("rank").cast(IntegerType).as("rank"), col("vec_id"),
        col("dist"))
      .orderBy("rank")
  }

  /** q175: SPLIT CENTROID DRIFT — the embedding-space companion to
    * q160's scalar leakage audit: if the train/val/test cuts are truly
    * exchangeable, their embedding centroids coincide up to sampling
    * noise, and a large centroid distance flags a skewed split before
    * anyone trains on it. Per (split, dim) the mean routes through
    * integer NANO-units (q141's exact-mean pattern — BIGINT sums,
    * mantissa < 2^53 at any corpus size); the pairwise distance sums its
    * 64 squared differences through DECIMAL(38,12) (bounded by dim ×
    * max|Δ|² — scale-independent), so every reported number is a pure
    * function of the data on both engines. Shape: one narrow posexplode,
    * one (split, dim)-keyed agg bounded by 3×64 rows, and a self-join of
    * that tiny frame. */
  def splitCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(TextPrims.hex60C(md5(col("vec_id").cast(StringType))),
      lit(100L))
    val split = when(bucket < 80, "train").when(bucket < 90, "val")
      .otherwise("test")
    val base = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), split.as("split"), col("embedding"))
      .localCheckpoint() // feeds the dim explode AND the per-split counts
    val dims = base
      .select(col("split"), posexplode(col("embedding")))
      .withColumnRenamed("pos", "dim")
      .withColumn("xd", col("col").cast(DoubleType))
    val cent = dims.groupBy("split", "dim")
      .agg((sum((col("xd").cast(DecimalType(18, 9)) * 1000000000L)
        .cast(LongType)).cast(DoubleType) / count(lit(1)) /
        lit(1000000000.0)).as("mu"))
    val counts = base.groupBy("split")
      .agg(count(lit(1)).cast(IntegerType).as("n"))
    val a = cent.select(col("split").as("split_a"), col("dim"),
      col("mu").as("mua"))
    val b = cent.select(col("split").as("split_b"), col("dim"),
      col("mu").as("mub"))
    a.join(b, Seq("dim"))
      .filter(col("split_a") < col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(sum(((col("mua") - col("mub")) * (col("mua") - col("mub")))
        .cast(DecimalType(38, 12))).as("d2"))
      .join(counts.withColumnsRenamed(Map("split" -> "split_a", "n" -> "n_a")),
        "split_a")
      .join(counts.withColumnsRenamed(Map("split" -> "split_b", "n" -> "n_b")),
        "split_b")
      .select(col("split_a"), col("split_b"), col("n_a"), col("n_b"),
        round(sqrt(col("d2").cast(DoubleType)), 6).as("centroid_dist"))
      .orderBy("split_a", "split_b")
  }

  /** q177's plane-count grid — interpolated into the oracle. */
  val TuningPlaneCounts: Seq[Int] = Seq(4, 6, 8)

  /** q177: ANN TUNING SWEEP — recall@k and candidate cost per LSH plane
    * count, the measured tradeoff curve an ANN deployment tunes against
    * (more planes ⇒ smaller buckets ⇒ cheaper probes and lower recall).
    * Because plane p derives from a fixed per-index key, an n-plane
    * bucket id is a PREFIX of the (n+m)-plane id, so candidate sets
    * shrink monotonically in numPlanes and recall is monotone too — the
    * sweep demonstrates the documented SimConfig property with numbers.
    * Per (num_planes, query): bucket-mates (the probe's cost), top-k
    * hits vs exact brute force, and recall as one integer division. */
  def annTuningSweep(s: SparkSession, dir: String,
                     planeCounts: Seq[Int] = TuningPlaneCounts): DataFrame = {
    require(planeCounts.nonEmpty && planeCounts.forall(_ > 0))
    val bf = cosineTopK(s, dir).select(col("query_id"), col("neighbor_id"))
      .localCheckpoint() // shared exact baseline across all configs
    planeCounts.map { p =>
      val cfg = SimConfig(numPlanes = p)
      val all = emb(s, dir).withColumn("bkt", bucket(col("e"), cfg))
      val q = all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("bkt"))
      val candPer = all.select(col("vec_id").as("neighbor_id"), col("bkt"))
        .join(broadcast(q), "bkt")
        .filter(col("neighbor_id") =!= col("query_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_candidates"))
      val iv = annLsh(s, dir, cfg)
        .select(col("query_id").as("qi"), col("neighbor_id").as("ni"))
      val hits = bf
        .join(iv, bf("query_id") === iv("qi") &&
          bf("neighbor_id") === iv("ni"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      q.select("query_id").distinct()
        .join(candPer, Seq("query_id"), "left")
        .join(hits, Seq("query_id"), "left")
        .na.fill(0L, Seq("n_candidates", "n_hits"))
        .select(lit(p).as("num_planes"), col("query_id"),
          col("n_candidates").cast(IntegerType).as("n_candidates"),
          col("n_hits").cast(IntegerType).as("n_hits"),
          (col("n_hits").cast(DoubleType) / K).as("recall"))
    }.reduce(_ unionByName _)
      .orderBy("num_planes", "query_id")
  }

  // ------------------------------------------------------------- oracles
  private def dotS(a: String, b: String): String =
    s"""list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |  list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])),
       |  (x, y) -> x + y)""".stripMargin.replace("\n", " ")
  /** embeddings CTE with per-vector norm, matching Spark's factorization. */
  private val embS =
    s"""SELECT vec_id, label, e, sqrt(${dotS("e", "e")}) AS nrm
       |FROM (SELECT vec_id, label,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings)""".stripMargin.replace("\n", " ")
  private def simS(d: String, na: String, nb: String): String = s"$d / ($na * $nb)"
  private def planeS(p: Int): String =
    "[" + planes(p).map(_.toString).mkString(", ") + "]"
  private def bucketS(e: String): String =
    (0 until NumPlanes).map(p =>
      s"(CASE WHEN ${dotS(e, s"pl$p")} >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
  private val planesCte =
    s"pl AS (SELECT ${(0 until NumPlanes).map(p => s"${planeS(p)} AS pl$p").mkString(", ")})"

  /** q171's approximate-candidate width, interpolated into its oracle. */
  val Sq8TopR: Int = 20

  /** q61's SQL — shared verbatim by q170 (the persisted-index round trip
    * must answer identically). */
  /** The IVF-probe oracle, parameterized by an extra candidate
    * predicate — "TRUE" for q61/q170, the tombstone exclusion for
    * q262. One spelling, three queries. */
  private def ivfOracleS(candFilter: String): String = {
    val L = graft.ml.LloydExact
    s"""WITH ${L.lloydCtesS},
       |cells AS (SELECT vec_id, e, cluster,
       |    sqrt(${L.dotS("e", "e")}) AS nrm FROM afinal),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, cluster
       |  FROM cells WHERE vec_id < 10),
       |c AS (SELECT q.query_id, n.vec_id AS neighbor_id,
       |    ${simS(s"${L.dotS("q.qe", "n.e")}", "q.qn", "n.nrm")} AS sim
       |  FROM q JOIN cells n USING (cluster)
       |  WHERE n.vec_id <> q.query_id AND ($candFilter)),
       |r AS (SELECT query_id, neighbor_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rk
       |  FROM c)
       |SELECT query_id, neighbor_id, rk, round(sim, 6) AS cosine
       |FROM r WHERE rk <= $K ORDER BY query_id, rk""".stripMargin
  }

  private lazy val q61OracleS: String = ivfOracleS("TRUE")

  /** Inserted vectors' id plane: far above corpus ids, distinct from
    * every fixture variant plane. */
  val UpsertOffset: Long = 1L << 41

  /** q277: IVF UPSERT — the INSERT path of the index lifecycle (build
    * q61 → persist q170 → insert THIS → delete q262 → compact q265):
    * new vectors (here exact copies of the %15==4 plane under fresh
    * ids — guaranteed to surface in top-k next to their sources, so a
    * probe that ignored the insert would hash-differently) are
    * assigned to the nearest EXISTING centroid — the quantizer is NOT
    * retrained — and appended as new files under their cell
    * directories; no existing file is rewritten. The probe answers
    * from the reloaded index alone. Oracle: an IVF probe over
    * corpus ∪ additions with centers from the ORIGINAL corpus — which
    * is exactly the no-retrain contract.
    *
    * Shape at 100 TB: insert cost is O(|batch|) assignment against K
    * broadcast centroids + an append write into the touched cell
    * partitions; the quantizer, the untouched cells, and all previous
    * generations are never read. */
  def annIvfUpsert(s: SparkSession, dir: String): DataFrame = {
    val L = graft.ml.LloydExact
    Tables.scratchQuery("q277") { tmp =>
      val path = tmp.resolve("ivf").toString
      val pts = L.points(s, dir)
      val centers = L.centersFor(pts)
      L.assign(pts, centers)
        .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
        .write.partitionBy("cluster").parquet(path)
      val adds = pts.filter(col("vec_id") % 15 === 4 && col("vec_id") >= 10)
        .select((col("vec_id") + UpsertOffset).as("vec_id"), col("e"))
      L.assign(adds, centers)
        .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
        .write.mode("append").partitionBy("cluster").parquet(path)
      probeIvf(s.read.parquet(path))
    }
  }

  /** q298: STREAMING IVF UPSERT — the index-lifecycle capstone: q277's
    * INSERT path executed as the INGEST LOOP a production vector store
    * actually runs. The additions arrive as three mtime-ordered files
    * (maxFilesPerTrigger=1 ⇒ three micro-batches) across TWO
    * checkpointed AvailableNow runs (the q143 restart pattern — the
    * third increment lands while no job is running); each micro-batch
    * is assigned to the nearest EXISTING centroid (no retrain) and
    * APPENDED into the persisted cell layout — new files under the
    * touched cluster directories, no rewrite, no index reload between
    * batches. The post-stream probe answers from the final layout and
    * must hash-equal q277's batch oracle VERBATIM: per-row centroid
    * assignment is batch-split-invariant by construction, so any
    * double-applied file across the restart (a duplicate vec_id would
    * occupy two top-k ranks), lost increment, or stale-generation read
    * breaks the hash.
    *
    * Shape at 100 TB: per micro-batch cost is O(|batch|) assignment
    * against K broadcast centroids + an append into the touched cell
    * partitions; the checkpoint makes increments exactly-once across
    * job restarts — this is how an embedding index stays fresh under
    * continuous ingest without rebuild downtime. */
  def annIvfUpsertStream(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.staged(s, "q298",
        graft.streaming.EventStream.Parts8) { h =>
      val L = graft.ml.LloydExact
      val path = h.dir.resolve("ivf").toString
      val pts = L.points(s, dir)
      // the frozen quantizer: every micro-batch assigns against it
      val centers = L.centersFor(pts).localCheckpoint()
      L.assign(pts, centers)
        .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
        .write.partitionBy("cluster").parquet(path)
      val adds = pts
        .filter(col("vec_id") % 15 === 4 && col("vec_id") >= 10)
        .select((col("vec_id") + UpsertOffset).as("vec_id"), col("e"))
        .localCheckpoint() // three slice writes read it
      // write and move split so the third increment can be STAGED while
      // run 1 executes (guide §2.6) and moved only once no job is running
      def writeSlice(slice: Int): java.nio.file.Path = {
        val stage = h.dir.resolve(s"stage$slice")
        // shard on the add's ORDINAL within the id plane, not vec_id
        // mod 3: every add satisfies (vec_id − UpsertOffset) ≡ 4
        // (mod 15) and UpsertOffset ≡ 2 (mod 3), so vec_id is CONSTANT
        // mod 3 — a collinear shard key would put every row in slice 0
        // and hollow out the later micro-batches, making the restart
        // proof vacuous (a run-2 lost increment would go undetected)
        val sliced = adds.filter(
          pmod(expr(s"(vec_id - ${UpsertOffset}L) div 15"),
            lit(3L)) === slice)
        require(sliced.limit(1).count() == 1L,
          s"q298 staged slice $slice is empty — its micro-batch would " +
            "carry zero rows and the increment it proves is vacuous")
        sliced.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        stage
      }
      def stageSlice(slice: Int, name: String, mtimeMs: Long): Unit =
        graft.streaming.EventStream.moveOnlyParquet(
          writeSlice(slice), h.in.resolve(name), mtimeMs)
      val addSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", LongType),
        org.apache.spark.sql.types.StructField("e",
          ArrayType(DoubleType))))
      // both runs build the IDENTICAL plan for checkpoint compatibility
      def run(): org.apache.spark.sql.streaming.StreamingQuery =
        h.track(s.readStream.schema(addSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(h.in.toString)
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            L.assign(b, centers)
              .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
              .write.mode("append").partitionBy("cluster").parquet(path)
            () }
          .option("checkpointLocation", h.ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())
      // ---- run 1: two increments
      stageSlice(0, "aa-add0.parquet", 1000000L)
      stageSlice(1, "bb-add1.parquet", 1060000L)
      val q1 = run()
      // stage (but do NOT move) the third increment while run 1 streams
      val stage2 = writeSlice(2)
      h.await(q1, "upsert-stream run 1")
      // ---- the third increment lands while no job is running
      graft.streaming.EventStream.moveOnlyParquet(
        stage2, h.in.resolve("cc-add2.parquet"), 1120000L)
      // ---- run 2: resumed from the same checkpoint
      h.await(run(), "upsert-stream run 2")
      probeIvf(s.read.parquet(path)).localCheckpoint()
    }

  /** q305: FILTERED VECTOR SEARCH — predicate-constrained retrieval,
    * the production ANN feature tombstones (q262) only approximate:
    * each query retrieves among IN-CELL candidates sharing its label
    * (the metadata filter), and the query MEASURES the pre-filter vs
    * post-filter tradeoff every vector store documents — filter-then-
    * rank (correct: rank only matching candidates) against
    * rank-then-filter (naive: take the unfiltered top-k, then drop
    * non-matching), reporting how many of the naive path's survivors
    * remain and the recall it loses. Post-filtering under-fills
    * whenever the unfiltered top-k is dominated by other labels —
    * which is exactly why engines push predicates INTO the probe.
    *
    * Shape at 100 TB: identical to q61's probe (cell-local candidates,
    * broadcast queries) with one extra codegen'd predicate and a
    * second window over the SAME shuffled frame — the filter costs a
    * comparison, not a pass. */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val L = graft.ml.LloydExact
    val pts = L.points(s, dir)
    val cells = L.assign(pts, L.centersFor(pts))
      .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
      .join(Tables.load(s, dir, "embeddings").select("vec_id", "label"),
        Seq("vec_id"))
      .localCheckpoint() // queries + candidates read it
    val q = cells.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("cluster"), col("label").as("qlabel"))
    val joined = cells
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn"), col("cluster"), col("label").as("nlabel"))
      .join(broadcast(q), "cluster")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"), col("nn")))
      .localCheckpoint() // both rank chains read it
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val pre = joined.filter(col("nlabel") === col("qlabel"))
      .withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= K)
      .select(col("query_id"), col("neighbor_id"))
    val post = joined
      .withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= K)
      .filter(col("nlabel") === col("qlabel"))
      .select(col("query_id"), col("neighbor_id"))
    val nMatch = joined.filter(col("nlabel") === col("qlabel"))
      .groupBy("query_id").agg(count(lit(1)).as("n_matching"))
    val nPre = pre.groupBy("query_id").agg(count(lit(1)).as("n_pre"))
    val nPost = post.groupBy("query_id").agg(count(lit(1)).as("n_post"))
    val nCommon = pre.join(post, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_common"))
    q.select(col("query_id"), col("qlabel").cast(IntegerType).as("label"))
      .join(nMatch, Seq("query_id"), "left")
      .join(nPre, Seq("query_id"), "left")
      .join(nPost, Seq("query_id"), "left")
      .join(nCommon, Seq("query_id"), "left")
      .select(col("query_id"), col("label"),
        coalesce(col("n_matching"), lit(0L)).as("n_matching"),
        coalesce(col("n_pre"), lit(0L)).as("n_pre"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(when(coalesce(col("n_pre"), lit(0L)) > 0,
          coalesce(col("n_common"), lit(0L)).cast(DoubleType) /
            col("n_pre").cast(DoubleType)), 6).as("recall_post"))
      .orderBy("query_id")
  }

  /** The tenant axis for q311's filtered search: a seeded-hash shard of
    * the id space (64 tenants ⇒ ~1.6 % selectivity), the multi-tenant
    * predicate production vector stores actually push into the probe. */
  private val TenantCount = 64L
  private def tenantC: Column =
    pmod(TextPrims.hex60C(TextPrims.seededMd5C(9,
      col("vec_id").cast(StringType))), lit(TenantCount))
      .cast(IntegerType)

  /** q311: FILTER-AWARE PROBE EXPANSION — the third filtered-search
    * strategy, the ACORN-style middle ground q305's pair leaves open.
    * Filter-then-rank in the home cell under-fills when the predicate
    * is selective (the matching candidates live elsewhere);
    * post-filtering the global top-k drops matches; the production
    * answer WIDENS the probe until the filter's candidate budget is
    * met: cells rank by coarse distance ‖q − c_j‖² (q236's spelling),
    * and each query probes the SHORTEST prefix of that order whose
    * cells cover ≥ k matching candidates — computed declaratively with
    * one cumulative window over the per-(query, cell) match counts, no
    * iteration, cap = the cell count. The report puts the three
    * strategies side by side per query: n_probe (cells the expansion
    * actually needed), the candidate budget it covered, and recall vs
    * the exact filtered top-k for BOTH the home-cell strategy and the
    * expanded one. Expansion dominates by construction (the probed set
    * contains the home cell — the spec asserts the domination), but
    * coverage counts candidates, not the right ones, so expanded
    * recall < 1 remains possible and is reported, not hidden.
    *
    * Shape at 100 TB: the cardinality map is one narrow aggregation of
    * the assignment (the per-cell metadata an IVF index keeps anyway),
    * the expansion is a K-row-per-query window — no corpus pass — and
    * the widened probe still touches only cell_rank ≤ n_probe
    * partitions: with the q170/q233 cell-partitioned layout the prefix
    * filter IS partition pruning. */
  def annFilterExpand(s: SparkSession, dir: String): DataFrame = {
    val L = graft.ml.LloydExact
    val k = K // top-k = 5
    val pts = L.points(s, dir)
    val centers = L.centersFor(pts).localCheckpoint()
    val cells = L.assign(pts, centers)
      .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
      .withColumn("tenant", tenantC)
      .localCheckpoint() // queries, counts, candidates, exact read it
    val q = cells.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("tenant").as("qtenant"))
    val wCell = Window.partitionBy("query_id")
      .orderBy(col("cd"), col("cluster"))
    val qcell = q.crossJoin(broadcast(centers))
      .withColumn("cd", dotp(col("c"), col("c")) -
        lit(2.0) * dotp(col("qe"), col("c")))
      .withColumn("cell_rank",
        row_number().over(wCell).cast(IntegerType))
      .select("query_id", "cluster", "cell_rank")
    // the filter's cardinality map: matching candidates per (query,
    // cell) — one narrow agg over the assignment
    val perCell = cells
      .join(broadcast(q.select("query_id", "qtenant")),
        col("tenant") === col("qtenant") &&
          col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "cluster").agg(count(lit(1)).as("nm"))
    // expansion rule: keep every cell the budget still needs — the
    // cells whose PRECEDING prefix covered < k matching candidates
    val wOrd = Window.partitionBy("query_id").orderBy("cell_rank")
    val probed = qcell.join(perCell, Seq("query_id", "cluster"), "left")
      .withColumn("nm", coalesce(col("nm"), lit(0L)))
      .withColumn("cum_prev", coalesce(sum("nm").over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_prev") < k)
      .select(col("query_id"), col("cluster"), col("cell_rank"),
        col("nm"))
      .localCheckpoint() // candidate join + the report read it
    val cand = cells
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn"), col("cluster"),
        col("tenant").as("ntenant"))
      .join(broadcast(probed.join(q, Seq("query_id"))), Seq("cluster"))
      .filter(col("ntenant") === col("qtenant") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosineFromNorms(dotp(col("qe"), col("ne")),
        col("qn"), col("nn")))
      .localCheckpoint() // both rank chains read it
    val wQ = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val expTop = cand.withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= k).select("query_id", "neighbor_id")
    val homeTop = cand.filter(col("cell_rank") === 1)
      .withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= k).select("query_id", "neighbor_id")
    // the exact filtered top-k: brute force over every matching vector
    val exact = cells
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn"), col("tenant").as("ntenant"))
      .join(broadcast(q), col("ntenant") === col("qtenant") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosineFromNorms(dotp(col("qe"), col("ne")),
        col("qn"), col("nn")))
      .withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id")
      .localCheckpoint() // two recall semi-joins + the count read it
    val nExact = exact.groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"))
    val nProbe = probed.groupBy("query_id").agg(
      max("cell_rank").as("n_probe"), sum("nm").as("n_match_probed"))
    val nTotal = perCell.groupBy("query_id")
      .agg(sum("nm").as("n_match_total"))
    def hitsOf(t: DataFrame, nm: String): DataFrame =
      t.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as(nm))
    def recallOf(nh: String): Column =
      round(when(col("n_exact") > 0,
        coalesce(col(nh), lit(0L)).cast(DoubleType) /
          col("n_exact").cast(DoubleType)), 6)
    q.select(col("query_id"), col("qtenant").as("tenant"))
      .join(nTotal, Seq("query_id"), "left")
      .join(nProbe, Seq("query_id"), "left")
      .join(nExact, Seq("query_id"), "left")
      .join(hitsOf(expTop, "nh_exp"), Seq("query_id"), "left")
      .join(hitsOf(homeTop, "nh_home"), Seq("query_id"), "left")
      .select(col("query_id"), col("tenant"),
        coalesce(col("n_match_total"), lit(0L)).as("n_match_total"),
        col("n_probe"),
        coalesce(col("n_match_probed"), lit(0L)).as("n_match_probed"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        recallOf("nh_home").as("recall_home"),
        recallOf("nh_exp").as("recall_expand"))
      .orderBy("query_id")
  }

  private def q277OracleS: String = {
    val L = graft.ml.LloydExact
    import graft.ml.LloydExact.Iters
    s"""WITH ${L.lloydCtesS},
       |adds AS (SELECT vec_id + $UpsertOffset AS vec_id, e
       |  FROM e WHERE vec_id % 15 = 4 AND vec_id >= 10),
       |aadd AS (${L.assignS("adds", s"c$Iters")}),
       |cells AS (SELECT vec_id, e, cluster,
       |    sqrt(${L.dotS("e", "e")}) AS nrm FROM afinal
       |  UNION ALL
       |  SELECT vec_id, e, cluster, sqrt(${L.dotS("e", "e")}) AS nrm
       |  FROM aadd),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, cluster
       |  FROM cells WHERE vec_id < 10),
       |c AS (SELECT q.query_id, n.vec_id AS neighbor_id,
       |    ${simS(s"${L.dotS("q.qe", "n.e")}", "q.qn", "n.nrm")} AS sim
       |  FROM q JOIN cells n USING (cluster)
       |  WHERE n.vec_id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rk
       |  FROM c)
       |SELECT query_id, neighbor_id, rk, round(sim, 6) AS cosine
       |FROM r WHERE rk <= $K ORDER BY query_id, rk""".stripMargin
  }

  /** q280: LABEL-STRATIFIED SPLIT MANIFEST — the eval-split audit for
    * labeled embedding data: every vector hash-routes to
    * train/val/test (8/1/1 buckets of a seeded md5 — reproducible from
    * the id alone, no RNG, no global sort), and the manifest reports
    * per (label, split) counts and the within-label share, the table
    * that certifies no class is starved in an eval fold. Stratification
    * here is DIAGNOSED, not forced: hash-routing is label-blind, and
    * the share column is exactly the evidence a curator checks. */
  def stratifiedSplit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.fanOut(Tables.load(s, dir, "embeddings"), "vec_id")
      .select(col("vec_id"), col("label"))
    val b = pmod(TextPrims.hex60C(TextPrims.seededMd5C(777,
      col("vec_id").cast(StringType))), lit(10L))
    val g = e.withColumn("split",
        when(b < 8, "train").when(b === 8, "val").otherwise("test"))
      .groupBy("label", "split").agg(count(lit(1)).as("n"))
    val tot = g.groupBy("label").agg(sum("n").as("nt"))
    g.join(broadcast(tot), Seq("label"))
      .select(col("label").cast(IntegerType).as("label"), col("split"),
        col("n"),
        round(col("n").cast(DoubleType) / col("nt").cast(DoubleType), 6)
          .as("share"))
      .orderBy("label", "split")
  }

  private def q280OracleS: String = {
    val h = TextPrims.hex60S(
      TextPrims.seededMd5S(777, "CAST(vec_id AS VARCHAR)"))
    s"""WITH e AS (SELECT vec_id, label,
       |    CASE WHEN $h % 10 < 8 THEN 'train'
       |      WHEN $h % 10 = 8 THEN 'val' ELSE 'test' END AS split
       |  FROM embeddings),
       |g AS (SELECT label, split, COUNT(*) AS n
       |  FROM e GROUP BY label, split),
       |t AS (SELECT label, SUM(n) AS nt FROM g GROUP BY label)
       |SELECT CAST(g.label AS INTEGER) AS label, g.split, g.n,
       |  round(CAST(g.n AS DOUBLE) / CAST(t.nt AS DOUBLE), 6) AS share
       |FROM g JOIN t ON g.label = t.label
       |ORDER BY label, split""".stripMargin
  }

  /** q285's truncation grid (matryoshka-style prefix dimensions). */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** q285: MATRYOSHKA TRUNCATION SWEEP — retrieval quality when only
    * the first d′ embedding dimensions are used (the MRL deployment
    * question: how short can stored vectors get before recall
    * collapses). For each prefix width: cosine top-10 on the truncated
    * vectors, recall against the full-width top-10 (the d′ = 64 row is
    * the 1.0 sanity anchor). Slices are `slice()` prefixes; every
    * cosine is the fixed-fold dot over the slice — bit-identical to the
    * oracle's `list_slice` spelling.
    *
    * Shape at 100 TB: one scan per width against broadcast queries
    * (the q31 exact-baseline shape); the sweep is |widths| scans, and a
    * deployment stores ONE prefix — this is the eval that picks it. */
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir).localCheckpoint() // one slice pass per width
    def topOf(d: Int): DataFrame = {
      val sl = all.select(col("vec_id"),
        slice(col("e"), 1, d).as("se"))
        .withColumn("sn", sqrt(dotp(col("se"), col("se"))))
      val q = sl.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("se").as("qe"),
          col("sn").as("qn"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      sl.select(col("vec_id").as("neighbor_id"), col("se").as("ne"),
          col("sn").as("nn"))
        .crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("sim",
          cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"),
            col("nn")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select("query_id", "neighbor_id")
    }
    val full = topOf(Dim).localCheckpoint() // every width grades vs it
    val nq = full.select("query_id").distinct().count()
    MatryoshkaDims.map { d =>
      val t = topOf(d)
      val common = t.join(full, Seq("query_id", "neighbor_id"),
        "left_semi").agg(count(lit(1)).as("n_common"))
      common.select(lit(d).as("dims"),
        lit(nq).cast(IntegerType).as("n_queries"),
        col("n_common"),
        round(col("n_common").cast(DoubleType) /
          lit((nq * K).toDouble), 6).as("recall"))
    }.reduce(_ unionByName _).orderBy("dims")
  }

  private def q285OracleS: String = {
    import graft.ml.LloydExact.{dotS => dS}
    def topCte(d: Int, name: String): String =
      s"""${name}s AS (SELECT vec_id, list_slice(e, 1, $d) AS se
         |  FROM emb0),
         |${name}n AS (SELECT vec_id, se,
         |    sqrt(${dS("se", "se")}) AS sn FROM ${name}s),
         |$name AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${simS(s"${dS("q.se", "n.se")}", "q.sn", "n.sn")} DESC,
         |      n.vec_id) AS rk
         |  FROM ${name}n q JOIN ${name}n n ON n.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10) WHERE rk <= $K)""".stripMargin
    val widths = MatryoshkaDims.map(d => topCte(d, s"m$d")).mkString(",\n")
    val rows = MatryoshkaDims.map { d =>
      s"""SELECT $d AS dims,
         |  (SELECT CAST(COUNT(DISTINCT query_id) AS INTEGER)
         |    FROM m$Dim) AS n_queries,
         |  (SELECT COUNT(*) FROM m$d t JOIN m$Dim f
         |    ON t.query_id = f.query_id
         |    AND t.neighbor_id = f.neighbor_id) AS n_common,
         |  round(CAST((SELECT COUNT(*) FROM m$d t JOIN m$Dim f
         |    ON t.query_id = f.query_id
         |    AND t.neighbor_id = f.neighbor_id) AS DOUBLE) /
         |    ((SELECT COUNT(DISTINCT query_id) FROM m$Dim) * $K), 6)
         |    AS recall""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH emb0 AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |$widths
       |$rows
       |ORDER BY dims""".stripMargin
  }

  /** q286: ONE-BIT (SIGN) QUANTIZED SEARCH — embeddings binarized to
    * their coordinate signs, packed into two 32-bit halves (BIGINT-safe
    * on both engines: no 2^63 term, no overflow-semantics divergence),
    * ranked by Hamming distance. Per query: the overlap of the binary
    * top-k with the float top-k, and the Hamming band the binary
    * list spans — the 64×-compression eval next to SQ8 (q171) and PQ
    * (q201/q211). Integer end to end: bit packing is a sum of distinct
    * powers of two, distance is bit_count(xor) on each half. */
  def signHammingSearch(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir).localCheckpoint() // float top-k + both bit sides
    val pows = array((0 until 32).map(b => lit(1L << b)): _*)
    def bitsOf(half: Int): Column =
      aggregate(
        transform(slice(col("e"), half * 32 + 1, 32), (x, i) =>
          when(x >= 0, element_at(pows, i + 1)).otherwise(lit(0L))),
        lit(0L), (acc, b) => acc + b)
    val packed = all.select(col("vec_id"),
      bitsOf(0).as("lo"), bitsOf(1).as("hi"))
    val q = packed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"),
        col("hi").as("qhi"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("hd"), col("neighbor_id"))
    val binTop = packed
      .select(col("vec_id").as("neighbor_id"), col("lo"), col("hi"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("hd",
        expr("bit_count(qlo ^ lo) + bit_count(qhi ^ hi)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .localCheckpoint()
    val fq = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val floatTop = all
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn"))
      .crossJoin(broadcast(fq))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim",
        cosineFromNorms(dotp(col("qe"), col("ne")), col("qn"), col("nn")))
      .withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= K)
      .select("query_id", "neighbor_id")
    val common = binTop.join(floatTop, Seq("query_id", "neighbor_id"),
        "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_common"))
    binTop.groupBy("query_id")
      .agg(min("hd").cast(LongType).as("best_hamming"),
        max("hd").cast(LongType).as("worst_hamming"))
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast(DoubleType) /
          lit(K.toDouble), 6).as("recall"),
        col("best_hamming"), col("worst_hamming"))
      .orderBy("query_id")
  }

  /** q314: MULTI-PROBE sign-LSH search — the LSH family's production
    * recall knob, the analogue of IVF's nprobe (q236) for hash-bucketed
    * indexes: vectors bucket by their first 8 coordinate-sign bits
    * (256 cells), and a query probes either its HOME bucket alone or
    * home + the 8 buckets at Hamming distance 1 (one bit flipped —
    * the buckets a near-neighbor most likely fell into when one
    * coordinate straddled zero). Candidates re-rank by exact cosine
    * (the standard LSH re-rank), and the report gives both strategies'
    * candidate counts and recall against the exact float top-k, per
    * query. Multi-probe dominates by construction (its candidate set
    * contains the home bucket's; the spec asserts it) — the measured
    * question is how MUCH recall 9× the probes buy at 9×-bounded
    * candidate cost, without touching the other 247 buckets.
    *
    * Shape at 100 TB: the probe set is (queries × 9) rows broadcast to
    * a bucket-equi-join — with codes stored partitioned by bucket the
    * probe list IS partition pruning; no brute-force pass, no
    * cross join. Flip-1 multi-probe is how production LSH serves high
    * recall without doubling hash tables. */
  def multiProbeLsh(s: SparkSession, dir: String): DataFrame = {
    val B = 8 // bucket bits; 2^8 = 256 cells
    val all = emb(s, dir).localCheckpoint() // codes + float top-k read it
    val pows = array((0 until B).map(b => lit(1L << b)): _*)
    val bucket = aggregate(
      transform(slice(col("e"), 1, B), (x, i) =>
        when(x >= 0, element_at(pows, i + 1)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc + b)
    val cells = all.select(col("vec_id"), col("e"), col("nrm"),
      bucket.as("bkt")).localCheckpoint() // queries + candidates read it
    val q = cells.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("bkt").as("qbkt"))
    // probe list: home bucket + the 8 flip-1 buckets, tagged
    val probes = q.select(col("query_id"),
        explode(array((0 to B).map { i =>
          val b = if (i == 0) col("qbkt")
            else col("qbkt").bitwiseXOR(lit(1L << (i - 1)))
          struct(b.as("bkt"), lit(i == 0).as("is_home"))
        }: _*)).as("p"))
      .select(col("query_id"), col("p.bkt").as("bkt"),
        col("p.is_home").as("is_home"))
    val cand = cells
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn"), col("bkt"))
      .join(broadcast(probes.join(q, Seq("query_id"))), Seq("bkt"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosineFromNorms(dotp(col("qe"), col("ne")),
        col("qn"), col("nn")))
      .localCheckpoint() // both strategies' rank chains read it
    val wQ = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    def topOf(c: DataFrame): DataFrame =
      c.withColumn("rk", row_number().over(wQ))
        .filter(col("rk") <= K).select("query_id", "neighbor_id")
    val homeTop = topOf(cand.filter(col("is_home")))
    val multiTop = topOf(cand)
    // the exact float top-k (q286's reference)
    val exact = all
      .select(col("vec_id").as("neighbor_id"), col("e").as("ne"),
        col("nrm").as("nn"))
      .crossJoin(broadcast(q.select("query_id", "qe", "qn")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosineFromNorms(dotp(col("qe"), col("ne")),
        col("qn"), col("nn")))
      .withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= K)
      .select("query_id", "neighbor_id")
      .localCheckpoint() // both recall semi-joins read it
    def hitsOf(t: DataFrame, nm: String): DataFrame =
      t.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as(nm))
    val nHome = cand.filter(col("is_home")).groupBy("query_id")
      .agg(count(lit(1)).as("n_cand_home"))
    val nMulti = cand.groupBy("query_id")
      .agg(count(lit(1)).as("n_cand_multi"))
    q.select("query_id")
      .join(nHome, Seq("query_id"), "left")
      .join(nMulti, Seq("query_id"), "left")
      .join(hitsOf(homeTop, "nh_home"), Seq("query_id"), "left")
      .join(hitsOf(multiTop, "nh_multi"), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_cand_home"), lit(0L)).as("n_cand_home"),
        coalesce(col("n_cand_multi"), lit(0L)).as("n_cand_multi"),
        round(coalesce(col("nh_home"), lit(0L)).cast(DoubleType) /
          lit(K.toDouble), 6).as("recall_home"),
        round(coalesce(col("nh_multi"), lit(0L)).cast(DoubleType) /
          lit(K.toDouble), 6).as("recall_multi"))
      .orderBy("query_id")
  }

  private def q286OracleS: String = {
    import graft.ml.LloydExact.{dotS => dS}
    def bitsS(half: Int): String = {
      val lo = half * 32
      s"""list_reduce(list_concat([CAST(0 AS BIGINT)],
         |  list_transform(generate_series(${lo + 1}, ${lo + 32}),
         |    i -> CASE WHEN e[i] >= 0
         |      THEN CAST(1 AS BIGINT) << (i - ${lo + 1})
         |      ELSE CAST(0 AS BIGINT) END)),
         |  (a, b) -> a + b)""".stripMargin.replace("\n", " ")
    }
    s"""WITH emb0 AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |en AS (SELECT vec_id, e, sqrt(${dS("e", "e")}) AS nrm FROM emb0),
       |pk AS MATERIALIZED (SELECT vec_id, ${bitsS(0)} AS lo,
       |    ${bitsS(1)} AS hi FROM emb0),
       |q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
       |  FROM pk WHERE vec_id < 10),
       |bt AS MATERIALIZED (SELECT query_id, neighbor_id, hd FROM (
       |  SELECT q.query_id, n.vec_id AS neighbor_id,
       |    bit_count(xor(q.qlo, n.lo)) + bit_count(xor(q.qhi, n.hi))
       |      AS hd,
       |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |      bit_count(xor(q.qlo, n.lo)) + bit_count(xor(q.qhi, n.hi)),
       |      n.vec_id) AS rk
       |  FROM q, pk n WHERE n.vec_id <> q.query_id) WHERE rk <= $K),
       |fq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn
       |  FROM en WHERE vec_id < 10),
       |ft AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |  SELECT fq.query_id, n.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY fq.query_id ORDER BY
       |      ${simS(s"${dS("fq.qe", "n.e")}", "fq.qn", "n.nrm")} DESC,
       |      n.vec_id) AS rk
       |  FROM fq, en n WHERE n.vec_id <> fq.query_id) WHERE rk <= $K),
       |cm AS (SELECT b.query_id, COUNT(*) AS n_common
       |  FROM bt b JOIN ft f ON b.query_id = f.query_id
       |    AND b.neighbor_id = f.neighbor_id
       |  GROUP BY b.query_id)
       |SELECT g.query_id, COALESCE(cm.n_common, 0) AS n_common,
       |  round(CAST(COALESCE(cm.n_common, 0) AS DOUBLE) / $K, 6)
       |    AS recall,
       |  g.best_hamming, g.worst_hamming
       |FROM (SELECT query_id, CAST(MIN(hd) AS BIGINT) AS best_hamming,
       |    CAST(MAX(hd) AS BIGINT) AS worst_hamming
       |  FROM bt GROUP BY query_id) g
       |LEFT JOIN cm ON g.query_id = cm.query_id
       |ORDER BY g.query_id""".stripMargin
  }

  /** q314's oracle: buckets, the 9-probe list, both strategies' top-k
    * and the exact reference recomputed flat with the shared spellings. */
  private def q314OracleS: String = {
    import graft.ml.LloydExact.{dotS => dS}
    val bktS =
      s"""list_reduce(list_concat([CAST(0 AS BIGINT)],
         |  list_transform(generate_series(1, 8),
         |    i -> CASE WHEN e[i] >= 0
         |      THEN CAST(1 AS BIGINT) << (i - 1)
         |      ELSE CAST(0 AS BIGINT) END)),
         |  (a, b) -> a + b)""".stripMargin.replace("\n", " ")
    val sim = simS(s"${dS("q.qe", "n.e")}", "q.qn", "n.nrm")
    s"""WITH en AS MATERIALIZED (SELECT vec_id, e, nrm, $bktS AS bkt
       |  FROM ($embS)),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn,
       |    bkt AS qbkt
       |  FROM en WHERE vec_id < 10),
       |probes AS (SELECT q.query_id,
       |    CASE WHEN i = 0 THEN q.qbkt
       |      ELSE xor(q.qbkt, CAST(1 AS BIGINT) << (i - 1)) END AS bkt,
       |    i = 0 AS is_home
       |  FROM q CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS i)),
       |cand AS MATERIALIZED (SELECT p.query_id, p.is_home,
       |    n.vec_id AS neighbor_id, $sim AS sim
       |  FROM probes p JOIN q ON q.query_id = p.query_id
       |  JOIN en n ON n.bkt = p.bkt
       |  WHERE n.vec_id <> q.query_id),
       |ht AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY
       |      query_id ORDER BY sim DESC, neighbor_id) AS rk
       |  FROM cand WHERE is_home) WHERE rk <= $K),
       |mt AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY
       |      query_id ORDER BY sim DESC, neighbor_id) AS rk
       |  FROM cand) WHERE rk <= $K),
       |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |  SELECT q.query_id, n.vec_id AS neighbor_id, ROW_NUMBER() OVER
       |      (PARTITION BY q.query_id ORDER BY $sim DESC, n.vec_id)
       |      AS rk
       |  FROM q, en n WHERE n.vec_id <> q.query_id) WHERE rk <= $K),
       |nh AS (SELECT query_id, COUNT(*) AS n FROM cand WHERE is_home
       |  GROUP BY query_id),
       |nm AS (SELECT query_id, COUNT(*) AS n FROM cand
       |  GROUP BY query_id),
       |hh AS (SELECT h.query_id, COUNT(*) AS nhit FROM ht h JOIN ex
       |  ON ex.query_id = h.query_id AND ex.neighbor_id = h.neighbor_id
       |  GROUP BY h.query_id),
       |hm AS (SELECT m.query_id, COUNT(*) AS nhit FROM mt m JOIN ex
       |  ON ex.query_id = m.query_id AND ex.neighbor_id = m.neighbor_id
       |  GROUP BY m.query_id)
       |SELECT q.query_id,
       |  CAST(COALESCE(nh.n, 0) AS BIGINT) AS n_cand_home,
       |  CAST(COALESCE(nm.n, 0) AS BIGINT) AS n_cand_multi,
       |  round(CAST(COALESCE(hh.nhit, 0) AS DOUBLE) / $K, 6)
       |    AS recall_home,
       |  round(CAST(COALESCE(hm.nhit, 0) AS DOUBLE) / $K, 6)
       |    AS recall_multi
       |FROM q LEFT JOIN nh ON nh.query_id = q.query_id
       |LEFT JOIN nm ON nm.query_id = q.query_id
       |LEFT JOIN hh ON hh.query_id = q.query_id
       |LEFT JOIN hm ON hm.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin
  }

  /** q293: EMBEDDING ANISOTROPY REPORT — the geometry QA an embedding
    * corpus gets before anyone trusts cosine on it: (a) the mean
    * cosine between offset-paired vectors (healthy isotropic spaces
    * sit near 0; a collapsed/anisotropic space sits high — "all
    * vectors point the same way"), (b) norm concentration (mean norm
    * and its coefficient of variation), (c) the center-norm ratio
    * ‖mean vector‖ / mean ‖vector‖ (≈0 isotropic, →1 collapsed).
    * Deterministic pair sample = (vec_id, vec_id+7) equi-join; per-dim
    * means use the exact-decimal q245 spelling; every moment is an
    * integer/decimal sum.
    *
    * Shape at 100 TB: two scans (pair join is a self equi-join on a
    * shifted key, the mean vector is one D-key partial agg) and
    * driver-constant arithmetic. */
  def anisotropyReport(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
      .select(col("vec_id"), col("e"), col("nrm"))
      .localCheckpoint() // pair join sides + norms + mean vector
    val b = all.select(col("vec_id").as("vb"), col("e").as("eb"),
      col("nrm").as("nb"))
    val pa = all.join(b, col("vec_id") + 7 === col("vb"))
      .select(round(dotp(col("e"), col("eb")) /
        (col("nrm") * col("nb")), 9).as("pc"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("pc").cast(DecimalType(28, 9))).cast(DoubleType)
          .as("sp"))
    val nm = all.select((col("nrm").cast(DecimalType(18, 6)) * 1000000)
      .cast(LongType).as("m"))
    def exact(c: Column) = sum(c.cast(DecimalType(38, 0)))
    val na = nm.agg(count(lit(1)).as("n"),
      exact(col("m")).cast(DoubleType).as("s1"),
      exact(col("m") * col("m")).cast(DoubleType).as("s2"))
    val mu = all.select(posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg((sum(col("v").cast(DecimalType(28, 9))).cast(DoubleType) /
        count(lit(1))).as("mu"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"),
        col("mu")))), x => x.getField("mu")).as("v"))
      .select(sqrt(dotp(col("v"), col("v"))).as("cn"))
    val meanN = col("s1") / col("n") // micro-units
    pa.crossJoin(na).crossJoin(mu)
      .select(col("n"), col("n_pairs"),
        round(col("sp") / col("n_pairs"), 6).as("mean_pair_cos"),
        round(meanN / 1000000.0, 6).as("mean_norm"),
        round(sqrt(col("s2") / col("n") - meanN * meanN) / meanN, 6)
          .as("norm_cv"),
        round(col("cn") / (meanN / 1000000.0), 6)
          .as("center_norm_ratio"))
  }

  private def q293OracleS: String = {
    import graft.ml.LloydExact.{dotS => dS}
    s"""WITH e0 AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |en AS MATERIALIZED (SELECT vec_id, e, sqrt(${dS("e", "e")})
       |    AS nrm FROM e0),
       |pa AS (SELECT COUNT(*) AS n_pairs,
       |    CAST(SUM(CAST(pc AS DECIMAL(28,9))) AS DOUBLE) AS sp
       |  FROM (SELECT round(${dS("a.e", "b.e")} / (a.nrm * b.nrm), 9)
       |      AS pc
       |    FROM en a JOIN en b ON a.vec_id + 7 = b.vec_id)),
       |nm AS (SELECT CAST(CAST(nrm AS DECIMAL(18,6)) * 1000000
       |    AS BIGINT) AS m FROM en),
       |na AS (SELECT COUNT(*) AS n,
       |    CAST(SUM(CAST(m AS DECIMAL(38,0))) AS DOUBLE) AS s1,
       |    CAST(SUM(CAST(m * m AS DECIMAL(38,0))) AS DOUBLE) AS s2
       |  FROM nm),
       |mu AS (SELECT pos,
       |    CAST(SUM(CAST(v AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*)
       |      AS mu
       |  FROM (SELECT u['pos'] AS pos, u['v'] AS v FROM (
       |    SELECT unnest(list_transform(generate_series(1, len(e)),
       |      i -> {'pos': i - 1, 'v': e[i]})) AS u FROM e0))
       |  GROUP BY pos),
       |mv AS (SELECT list(mu ORDER BY pos) AS v FROM mu),
       |mn AS (SELECT sqrt(${dS("v", "v")}) AS cn FROM mv)
       |SELECT na.n, pa.n_pairs,
       |  round(pa.sp / pa.n_pairs, 6) AS mean_pair_cos,
       |  round(na.s1 / na.n / 1000000.0, 6) AS mean_norm,
       |  round(sqrt(na.s2 / na.n - (na.s1 / na.n) * (na.s1 / na.n)) /
       |    (na.s1 / na.n), 6) AS norm_cv,
       |  round(mn.cn / (na.s1 / na.n / 1000000.0), 6)
       |    AS center_norm_ratio
       |FROM pa, na, mn""".stripMargin
  }

  /** q296: LABEL-NOISE CENSUS — leave-one-out 1-NN agreement, the
    * confident-learning-style check a labeled embedding set gets
    * before training on it: every vector's label is compared with its
    * nearest neighbor's, per label: coverage (vectors with an in-cell
    * neighbor), agreement count and rate — a label whose neighbors
    * systematically disagree is noisy or the class is entangled.
    * Neighbors are CELL-LOCAL (the q61 IVF coarse quantizer), which is
    * the production shape: all-pairs LOO is quadratic, in-cell LOO is
    * the index probe every vector already pays. Singleton-cell vectors
    * are counted as uncovered, not silently dropped. */
  def labelNoiseCensus(s: SparkSession, dir: String): DataFrame =
    labelNoiseCensusBounded(s, dir, maxCell = 100000)

  /** q296 body with the hot-cell bound explicit: the in-cell LOO
    * self-join inherits Lloyd cell skew — a dominant cell (one class,
    * one template family) makes its pair count quadratic in the cell.
    * The guard is [[subQuantize]]'s seeded sign-hyperplane split (the
    * q181 lesson): cells above `maxCell` re-key on (cluster, sub-code)
    * so no compare group stays quadratic, at the cost of slightly
    * narrower neighbor pools (coverage can only DROP — a split never
    * invents a neighbor). The default bound is far above every fixture
    * cell, so the oracle path's keys equal the clusters bit-for-bit;
    * the spec drives an adversarial bound. */
  def labelNoiseCensusBounded(s: SparkSession, dir: String,
                              maxCell: Int): DataFrame = {
    val L = graft.ml.LloydExact
    val pts = L.points(s, dir)
    val cells = subQuantize(
      L.assign(pts, L.centersFor(pts))
        .withColumn("nrm", sqrt(dotp(col("e"), col("e"))))
        .join(Tables.load(s, dir, "embeddings").select("vec_id", "label"),
          Seq("vec_id"))
        .localCheckpoint(), // both sides of the in-cell self-join
      maxCell)
    val b = cells.select(col("vec_id").as("nb"), col("e").as("eb"),
      col("nrm").as("nbn"), col("label").as("nb_label"), col("cell"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("nb"))
    val nn = cells.join(b, Seq("cell"))
      .filter(col("vec_id") =!= col("nb"))
      .withColumn("sim",
        cosineFromNorms(dotp(col("e"), col("eb")), col("nrm"),
          col("nbn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("nb_label"))
    cells.select(col("vec_id"), col("label"))
      .join(nn.select(col("vec_id"), col("nb_label")), Seq("vec_id"),
        "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("nb_label").isNotNull, 1).otherwise(0))
          .as("n_covered"),
        sum(when(col("nb_label") === col("label"), 1).otherwise(0))
          .as("n_agree"))
      .select(col("label").cast(IntegerType).as("label"), col("n_total"),
        col("n_covered"), col("n_agree"),
        round(when(col("n_covered") > 0,
          col("n_agree").cast(DoubleType) /
            col("n_covered").cast(DoubleType)), 6).as("agree_rate"))
      .orderBy("label")
  }

  private def q296OracleS: String = {
    val L = graft.ml.LloydExact
    s"""WITH ${L.lloydCtesS},
       |cells AS MATERIALIZED (SELECT a.vec_id, a.e, a.cluster,
       |    sqrt(${L.dotS("a.e", "a.e")}) AS nrm, emb.label
       |  FROM afinal a JOIN embeddings emb ON a.vec_id = emb.vec_id),
       |nn AS (SELECT vec_id, label, nb_label FROM (
       |  SELECT x.vec_id, x.label, y.label AS nb_label,
       |    ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
       |      ${simS(s"${L.dotS("x.e", "y.e")}", "x.nrm", "y.nrm")} DESC,
       |      y.vec_id) AS rk
       |  FROM cells x JOIN cells y ON x.cluster = y.cluster
       |    AND x.vec_id <> y.vec_id) WHERE rk = 1)
       |SELECT CAST(c.label AS INTEGER) AS label,
       |  CAST(COUNT(*) AS BIGINT) AS n_total,
       |  CAST(SUM(CASE WHEN nn.nb_label IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_covered,
       |  CAST(SUM(CASE WHEN nn.nb_label = c.label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_agree,
       |  round(CASE WHEN SUM(CASE WHEN nn.nb_label IS NOT NULL
       |      THEN 1 ELSE 0 END) > 0
       |    THEN CAST(SUM(CASE WHEN nn.nb_label = c.label
       |      THEN 1 ELSE 0 END) AS DOUBLE) /
       |      CAST(SUM(CASE WHEN nn.nb_label IS NOT NULL THEN 1 ELSE 0
       |        END) AS DOUBLE) END, 6) AS agree_rate
       |FROM cells c LEFT JOIN nn ON c.vec_id = nn.vec_id
       |GROUP BY c.label ORDER BY label""".stripMargin
  }

  val MmrK = 10
  val MmrPool = 256

  /** q271: MAXIMAL MARGINAL RELEVANCE re-rank — the diversity-aware
    * second stage of retrieval (RAG context assembly, dedup-aware
    * nearest-neighbor review): greedily pick k items maximizing
    * 0.5·relevance − 0.5·max-similarity-to-already-picked, so the
    * result covers the query's neighborhood instead of returning ten
    * near-copies of the best hit. Query = vec 0; candidates = the
    * relevance top-[[MmrPool]] (the standard retrieve-then-rerank
    * funnel). Reports rank, relevance, the redundancy penalty
    * (max_sim) and the MMR score of each pick.
    *
    * Determinism: all vectors unit-normalized once (same elementwise
    * division both engines); relevance and pairwise sims are the
    * fixed-fold [[dotp]] ≡ `list_reduce`; λ = 0.5 is exact dyadic;
    * argmax ties break on vec_id over bit-identical doubles. The
    * oracle replays the greedy chain as generated CTEs (3 per step).
    *
    * Shape at 100 TB: stage 1 is a distributed top-[[MmrPool]]
    * (TakeOrderedAndProject); the greedy loop runs k scans of the
    * POOL (256 rows, broadcast-scale), never the corpus — the driver
    * holds only the picked vectors (k·D doubles, R7-bounded). */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
      .withColumn("u", transform(col("e"), x => x / col("nrm")))
    val qu = all.filter(col("vec_id") === 0)
      .select(col("u")).collect()(0).getSeq[Double](0)
    val quLit = array(qu.map(lit(_)): _*)
    val cand = all.filter(col("vec_id") > 0)
      .select(col("vec_id"), col("u"), dotp(quLit, col("u")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(MmrPool)
      .localCheckpoint() // scanned once per greedy step
    // picked: (vec_id, u, rel, max_sim, score), in pick order
    var sel = Vector.empty[(Long, Seq[Double], Double, Double, Double)]
    for (_ <- 1 to MmrK) {
      val msCol =
        if (sel.isEmpty) lit(0.0)
        else {
          val dots = sel.map { case (_, su, _, _, _) =>
            dotp(array(su.map(lit(_)): _*), col("u")) }
          if (dots.size == 1) dots.head else greatest(dots: _*)
        }
      val base =
        if (sel.isEmpty) cand
        else cand.filter(!col("vec_id").isin(sel.map(_._1): _*))
      val p = base.withColumn("ms", msCol)
        .withColumn("score",
          lit(0.5) * col("rel") - lit(0.5) * col("ms"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(1).collect()(0) // R7: ONE row per greedy step
      sel = sel :+ ((p.getLong(p.fieldIndex("vec_id")),
        p.getSeq[Double](p.fieldIndex("u")),
        p.getDouble(p.fieldIndex("rel")),
        p.getDouble(p.fieldIndex("ms")),
        p.getDouble(p.fieldIndex("score"))))
    }
    import s.implicits._
    sel.zipWithIndex.map { case ((id, _, rel, ms, sc), i) =>
      (i + 1, id, rel, ms, sc) }
      .toDF("rk", "vec_id", "rel0", "ms0", "sc0")
      .select(col("rk").cast(IntegerType).as("rk"), col("vec_id"),
        round(col("rel0"), 6).as("rel"),
        round(col("ms0"), 6).as("max_sim"),
        round(col("sc0"), 6).as("mmr_score"))
      .orderBy("rk")
  }

  /** q275: HARD-NEGATIVE / HARD-POSITIVE MINING — the contrastive-pair
    * table an embedding-finetuning pipeline exports: per query vector,
    * the most similar OTHER-label candidate (the hardest negative — the
    * confusable the loss must push away) and the least similar
    * SAME-label candidate (the hardest positive — the straggler it must
    * pull in), plus the margin between them (negative margin = the
    * classes interleave at this query). Cosines are the fixed-fold dot
    * over broadcast queries; per-query argmin/argmax are window top-1
    * with vec_id tie-breaks.
    *
    * Shape at 100 TB: identical to the exact-ANN baseline (q31) — ONE
    * corpus scan against a broadcast query set, two per-query window
    * top-1s on the query-keyed frame; no candidate materialization
    * beyond the scan. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlab"),
        col("e").as("qe"), col("nrm").as("qn"))
    val sims = all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlab"), col("vec_id").as("cid"),
        col("label").as("clab"),
        (dotp(col("qe"), col("e")) / (col("qn") * col("nrm"))).as("sim"))
    val wNeg = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("cid"))
    val wPos = Window.partitionBy("query_id")
      .orderBy(col("sim").asc, col("cid"))
    val neg = sims.filter(col("clab") =!= col("qlab"))
      .withColumn("rk", row_number().over(wNeg)).filter(col("rk") === 1)
      .select(col("query_id"), col("qlab").as("query_label"),
        col("cid").as("hard_neg_id"), round(col("sim"), 6)
          .as("hard_neg_sim"))
    val pos = sims.filter(col("clab") === col("qlab"))
      .withColumn("rk", row_number().over(wPos)).filter(col("rk") === 1)
      .select(col("query_id"), col("cid").as("hard_pos_id"),
        round(col("sim"), 6).as("hard_pos_sim"))
    neg.join(pos, Seq("query_id"))
      .withColumn("margin",
        round(col("hard_pos_sim") - col("hard_neg_sim"), 6))
      .orderBy("query_id")
  }

  private def hardNegOracleS: String = {
    import graft.ml.LloydExact.{dotS => dS}
    s"""WITH e AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |en AS (SELECT vec_id, label, e, sqrt(${dS("e", "e")}) AS nrm
       |  FROM e),
       |q AS (SELECT vec_id AS query_id, label AS qlab, e AS qe,
       |    nrm AS qn FROM en WHERE vec_id < 10),
       |sims AS MATERIALIZED (SELECT q.query_id, q.qlab,
       |    c.vec_id AS cid, c.label AS clab,
       |    ${dS("q.qe", "c.e")} / (q.qn * c.nrm) AS sim
       |  FROM en c, q WHERE c.vec_id <> q.query_id),
       |neg AS (SELECT query_id, qlab, cid, sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, cid) AS rk
       |  FROM sims WHERE clab <> qlab) WHERE rk = 1),
       |pos AS (SELECT query_id, cid, sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY sim ASC, cid) AS rk
       |  FROM sims WHERE clab = qlab) WHERE rk = 1)
       |SELECT n.query_id, n.qlab AS query_label,
       |  n.cid AS hard_neg_id, round(n.sim, 6) AS hard_neg_sim,
       |  p.cid AS hard_pos_id, round(p.sim, 6) AS hard_pos_sim,
       |  round(round(p.sim, 6) - round(n.sim, 6), 6) AS margin
       |FROM neg n JOIN pos p ON n.query_id = p.query_id
       |ORDER BY n.query_id""".stripMargin
  }

  private def mmrOracleS: String = {
    import graft.ml.LloydExact.{dotS => dS}
    val steps = (1 to MmrK).map { t =>
      val prev = s"msel${t - 1}"
      s"""mp$t AS MATERIALIZED (SELECT c.vec_id, c.rel,
         |    COALESCE(mx.ms, 0.0) AS ms,
         |    0.5 * c.rel - 0.5 * COALESCE(mx.ms, 0.0) AS score
         |  FROM mcand c LEFT JOIN (
         |    SELECT c2.vec_id, MAX(${dS("s.u", "c2.u")}) AS ms
         |    FROM mcand c2, $prev s GROUP BY c2.vec_id) mx
         |    ON c.vec_id = mx.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)),
         |mpick$t AS MATERIALIZED (SELECT $t AS rk, vec_id, rel, ms, score
         |  FROM mp$t ORDER BY score DESC, vec_id LIMIT 1),
         |msel$t AS MATERIALIZED (SELECT vec_id, u FROM $prev
         |  UNION ALL
         |  SELECT c.vec_id, c.u FROM mcand c
         |  JOIN mpick$t k ON c.vec_id = k.vec_id)""".stripMargin
    }.mkString(",\n")
    val picks = (1 to MmrK).map(t => s"SELECT * FROM mpick$t")
      .mkString("\n  UNION ALL ")
    s"""WITH emb0 AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings),
       |un AS (SELECT vec_id, list_transform(e, x ->
       |    x / sqrt(${dS("e", "e")})) AS u FROM emb0),
       |qv AS (SELECT u AS qu FROM un WHERE vec_id = 0),
       |mcand AS MATERIALIZED (SELECT vec_id, u, rel FROM (
       |    SELECT n.vec_id, n.u, ${dS("q.qu", "n.u")} AS rel
       |    FROM un n, qv q WHERE n.vec_id > 0)
       |  ORDER BY rel DESC, vec_id LIMIT $MmrPool),
       |msel0 AS (SELECT vec_id, u FROM mcand WHERE FALSE),
       |$steps
       |SELECT CAST(rk AS INTEGER) AS rk, vec_id,
       |  round(rel, 6) AS rel,
       |  round(ms, 6) AS max_sim,
       |  round(score, 6) AS mmr_score
       |FROM ($picks) ORDER BY rk""".stripMargin
  }

  private lazy val q31TopkOracleS: String =
    s"""WITH e AS ($embS),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM e WHERE vec_id < 10),
       |c AS (SELECT q.query_id, n.vec_id AS neighbor_id,
       |    ${simS(s"${dotS("q.qe", "n.e")}", "q.qn", "n.nrm")} AS sim
       |  FROM q CROSS JOIN e n WHERE n.vec_id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rk
       |  FROM c)
       |SELECT query_id, neighbor_id, rk, round(sim, 6) AS cosine
       |FROM r WHERE rk <= $K ORDER BY query_id, rk""".stripMargin

  /** q403: JENSEN–SHANNON EMBEDDING DRIFT — MAUVE-style two-sample
    * distributional comparison (Pillutla et al., NeurIPS 2021 reduce
    * both samples to a shared quantization and compare histograms):
    * every label's embedding population is histogrammed over the SAME
    * K deterministic Lloyd cells (the q57/q61 coarse quantizer), and
    * every label pair gets
    *   JS(P,Q) = ½·Σ_c [ p·ln(p/m) + q·ln(q/m) ],  m = (p+q)/2
    * over Laplace-smoothed cell shares p = (n + 0.5)/(N + K/2) (the
    * q205 rule — no empty-cell ln(0); the dense label×cell grid is
    * materialized so zero-count cells still contribute). JS is
    * symmetric and bounded by ln 2 — the drift score embedding-space
    * monitoring wants where q205's PSI (value bins) can't see shape.
    *
    * Exactness: shares are fixed-shape double expressions over exact
    * integers (+0.5 and +K/2 are binary-representable); each cell
    * contribution rounds to 9 dp into DECIMAL(28,9) before the
    * partition-order-independent sum (q183 discipline). Shape at
    * 100 TB: the Lloyd fit is the q57 machinery (broadcast centers,
    * one assignment pass); histograms are a labels×K hash-agg; the
    * pairwise stage runs at (labels²×K) GRID grain — never row grain. */
  def jsEmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val L = graft.ml.LloydExact
    val pts = L.points(s, dir)
    val cells = L.assign(pts, L.centersFor(pts))
    val lab = Tables.load(s, dir, "embeddings").select(col("vec_id"),
      col("label"))
    val hist = cells.join(lab, "vec_id")
      .groupBy("label", "cluster").agg(count(lit(1)).as("n"))
      .localCheckpoint() // grid + totals + pairs all read it
    val labels = hist.select("label").distinct()
    val grid = labels.crossJoin(
      s.range(L.K).select(col("id").cast(IntegerType).as("cluster")))
    val tot = hist.groupBy("label").agg(sum("n").as("nt"))
    val share = grid
      .join(hist, Seq("label", "cluster"), "left")
      .join(tot, "label")
      .select(col("label"), col("cluster"), col("nt"),
        ((coalesce(col("n"), lit(0L)).cast(DoubleType) + 0.5) /
          (col("nt").cast(DoubleType) + lit(L.K / 2.0))).as("p"))
    val a = share.select(col("label").as("label_a"), col("cluster"),
      col("nt").as("n_a"), col("p"))
    val b = share.select(col("label").as("label_b"), col("cluster"),
      col("nt").as("n_b"), col("p").as("q"))
    val m = (col("p") + col("q")) / 2.0
    val contrib = lit(0.5) *
      (col("p") * log(col("p") / m) + col("q") * log(col("q") / m))
    a.join(b, "cluster")
      .filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        sum(round(contrib, 9).cast(DecimalType(28, 9))).as("js_d"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round(col("js_d").cast(DoubleType), 6).as("js_nats"))
      .orderBy("label_a", "label_b")
  }

  def oracleSql: Map[String, String] = Map(
    // q403: same Lloyd cells (shared CTE chain), same smoothed shares,
    // same contribution shape and 9-dp decimal routing
    "q403_js_drift" -> {
      val L = graft.ml.LloydExact
      s"""WITH ${L.lloydCtesS},
         |lab AS (SELECT vec_id, label FROM embeddings),
         |h AS (SELECT l.label, a.cluster, COUNT(*) AS n
         |  FROM afinal a JOIN lab l USING (vec_id) GROUP BY 1, 2),
         |labs AS (SELECT DISTINCT label FROM lab),
         |grid AS (SELECT label, CAST(c AS INTEGER) AS cluster
         |  FROM labs CROSS JOIN (SELECT unnest(range(0, ${L.K})) AS c)),
         |tot AS (SELECT label, CAST(SUM(n) AS BIGINT) AS nt
         |  FROM h GROUP BY 1),
         |sh AS (SELECT g.label, g.cluster, t.nt,
         |    (CAST(COALESCE(h.n, 0) AS DOUBLE) + 0.5)
         |      / (CAST(t.nt AS DOUBLE) + ${L.K / 2.0}) AS p
         |  FROM grid g
         |  LEFT JOIN h ON g.label = h.label AND g.cluster = h.cluster
         |  JOIN tot t ON g.label = t.label)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  MAX(a.nt) AS n_a, MAX(b.nt) AS n_b,
         |  round(CAST(SUM(CAST(round(0.5 *
         |      (a.p * ln(a.p / ((a.p + b.p) / 2.0))
         |       + b.p * ln(b.p / ((a.p + b.p) / 2.0))), 9)
         |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS js_nats
         |FROM sh a JOIN sh b ON a.cluster = b.cluster
         |  AND a.label < b.label
         |GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin
    },
    // q331: identical sampled V-statistic in DuckDB (same distance
    // route, same 9-dp row rounding, same closing algebra)
    "q331_energy_distance" -> {
      val perLabel = 64
      val dAB = s"round(sqrt(greatest(${dotS("a.e", "a.e")} - " +
        s"2.0 * ${dotS("a.e", "b.e")} + ${dotS("b.e", "b.e")}, 0.0)), 9)"
      s"""WITH e0 AS ($embS),
         |sm AS MATERIALIZED (SELECT label, vec_id, e FROM (
         |    SELECT label, vec_id, e,
         |      ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id)
         |        AS rk
         |    FROM e0) WHERE rk <= $perLabel),
         |w AS MATERIALIZED (SELECT a.label, COUNT(*) AS nn,
         |    SUM(CAST($dAB AS DECIMAL(28,9))) AS sd
         |  FROM sm a JOIN sm b ON a.label = b.label GROUP BY a.label),
         |wm AS (SELECT label, CAST(sqrt(CAST(nn AS DOUBLE)) AS BIGINT)
         |      AS n,
         |    CAST(sd AS DOUBLE) / nn AS wmean FROM w),
         |c AS (SELECT a.label AS label_a, b.label AS label_b,
         |    COUNT(*) AS nm, SUM(CAST($dAB AS DECIMAL(28,9))) AS sd
         |  FROM sm a JOIN sm b ON a.label < b.label
         |  GROUP BY a.label, b.label)
         |SELECT c.label_a, c.label_b, x.n AS n_a, y.n AS n_b,
         |  round(CAST(c.sd AS DOUBLE) / c.nm, 6) AS cross_mean,
         |  round(2.0 * (CAST(c.sd AS DOUBLE) / c.nm) - x.wmean - y.wmean,
         |    6) AS energy
         |FROM c JOIN wm x ON x.label = c.label_a
         |JOIN wm y ON y.label = c.label_b
         |ORDER BY c.label_a, c.label_b""".stripMargin
    },
    // q328: identical prefix-overlap cumulative + shared 12-dp weight
    // literals; (1−p) is inlined as the JVM's computed double so both
    // engines scale by the exact same value
    "q328_rbo_rankings" -> {
      val (p, depth) = (0.9, 50)
      val wl = "[" + rboWeights(p, depth).mkString(", ") + "]"
      val oneMinusP = (1.0 - p).toString
      s"""WITH docs AS (SELECT doc_id, n_chars,
         |    ${TextPrims.bpeTokensS("text")} AS toks FROM documents),
         |ra AS (SELECT doc_id, ra FROM (SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS ra
         |  FROM docs) WHERE ra <= $depth),
         |rb AS (SELECT doc_id, rb FROM (SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY toks DESC, doc_id) AS rb
         |  FROM docs) WHERE rb <= $depth),
         |j AS (SELECT greatest(ra.ra, rb.rb) AS md
         |  FROM ra JOIN rb USING (doc_id)),
         |dd AS (SELECT unnest(generate_series(1, $depth)) AS d),
         |xd AS (SELECT dd.d, COUNT(j.md) AS x
         |  FROM dd LEFT JOIN j ON j.md <= dd.d GROUP BY dd.d),
         |terms AS (SELECT d, x,
         |    round(CAST(x AS DOUBLE) / d * ($wl)[d], 9) AS term FROM xd),
         |r AS (SELECT d, x,
         |    round($oneMinusP * CAST(SUM(CAST(term AS DECIMAL(28,9)))
         |      OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6)
         |      AS rbo
         |  FROM terms)
         |SELECT CAST(d AS INTEGER) AS d, x AS overlap, rbo FROM r
         |WHERE d IN (1, 5, 10, 25, 50) ORDER BY d""".stripMargin
    },
    "q271_mmr_rerank" -> mmrOracleS,
    "q275_hard_negatives" -> hardNegOracleS,
    "q277_ivf_upsert" -> q277OracleS,
    "q305_filtered_ann" -> {
      val L = graft.ml.LloydExact
      s"""WITH ${L.lloydCtesS},
         |cells AS MATERIALIZED (SELECT a.vec_id, a.e, a.cluster,
         |    sqrt(${L.dotS("a.e", "a.e")}) AS nrm, emb.label
         |  FROM afinal a JOIN embeddings emb ON a.vec_id = emb.vec_id),
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, cluster,
         |    label AS qlabel
         |  FROM cells WHERE vec_id < 10),
         |j AS MATERIALIZED (SELECT q.query_id, q.qlabel,
         |    n.vec_id AS neighbor_id, n.label AS nlabel,
         |    ${simS(s"${L.dotS("q.qe", "n.e")}", "q.qn", "n.nrm")} AS sim
         |  FROM q JOIN cells n USING (cluster)
         |  WHERE n.vec_id <> q.query_id),
         |pre AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         |      AS rk
         |  FROM j WHERE nlabel = qlabel) WHERE rk <= $K),
         |post AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, nlabel, qlabel, ROW_NUMBER()
         |      OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id) AS rk
         |  FROM j) WHERE rk <= $K AND nlabel = qlabel),
         |nm AS (SELECT query_id, COUNT(*) AS n_matching FROM j
         |  WHERE nlabel = qlabel GROUP BY query_id),
         |np AS (SELECT query_id, COUNT(*) AS n_pre FROM pre
         |  GROUP BY query_id),
         |ns AS (SELECT query_id, COUNT(*) AS n_post FROM post
         |  GROUP BY query_id),
         |nc AS (SELECT pre.query_id, COUNT(*) AS n_common
         |  FROM pre JOIN post ON pre.query_id = post.query_id
         |    AND pre.neighbor_id = post.neighbor_id
         |  GROUP BY pre.query_id)
         |SELECT q.query_id, CAST(q.qlabel AS INTEGER) AS label,
         |  CAST(COALESCE(nm.n_matching, 0) AS BIGINT) AS n_matching,
         |  CAST(COALESCE(np.n_pre, 0) AS BIGINT) AS n_pre,
         |  CAST(COALESCE(ns.n_post, 0) AS BIGINT) AS n_post,
         |  CAST(COALESCE(nc.n_common, 0) AS BIGINT) AS n_common,
         |  round(CASE WHEN COALESCE(np.n_pre, 0) > 0 THEN
         |    CAST(COALESCE(nc.n_common, 0) AS DOUBLE) / np.n_pre END, 6)
         |    AS recall_post
         |FROM q LEFT JOIN nm ON nm.query_id = q.query_id
         |LEFT JOIN np ON np.query_id = q.query_id
         |LEFT JOIN ns ON ns.query_id = q.query_id
         |LEFT JOIN nc ON nc.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin
    },
    // q311: the expansion rule (shortest cell_rank prefix covering
    // >= k matching candidates) recomputed flat — per-cell match
    // counts, one cumulative window, then the three strategies' top-k
    "q311_filter_expand" -> {
      val L = graft.ml.LloydExact
      val h9 = TextPrims.hex60S(
        TextPrims.seededMd5S(9, "CAST(vec_id AS VARCHAR)"))
      val sim = simS(s"${L.dotS("q.qe", "n.e")}", "q.qn", "n.nrm")
      s"""WITH ${L.lloydCtesS},
         |cells AS MATERIALIZED (SELECT a.vec_id, a.e, a.cluster,
         |    sqrt(${L.dotS("a.e", "a.e")}) AS nrm,
         |    CAST($h9 % $TenantCount AS INTEGER) AS tenant
         |  FROM afinal a),
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn,
         |    tenant AS qtenant FROM cells WHERE vec_id < 10),
         |qc AS (SELECT q.query_id, c.cluster,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
         |      ${L.dotS("c.c", "c.c")} - 2 * ${L.dotS("q.qe", "c.c")},
         |      c.cluster) AS INTEGER) AS cell_rank
         |  FROM q CROSS JOIN c${graft.ml.LloydExact.Iters} c),
         |pc AS (SELECT q.query_id, n.cluster, COUNT(*) AS nm
         |  FROM cells n JOIN q ON n.tenant = q.qtenant
         |    AND n.vec_id <> q.query_id
         |  GROUP BY 1, 2),
         |cum AS (SELECT qc.query_id, qc.cluster, qc.cell_rank,
         |    COALESCE(pc.nm, 0) AS nm,
         |    COALESCE(SUM(COALESCE(pc.nm, 0)) OVER (
         |      PARTITION BY qc.query_id ORDER BY qc.cell_rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_prev
         |  FROM qc LEFT JOIN pc ON pc.query_id = qc.query_id
         |    AND pc.cluster = qc.cluster),
         |probed AS (SELECT * FROM cum WHERE cum_prev < $K),
         |cand AS MATERIALIZED (SELECT p.query_id, p.cell_rank,
         |    n.vec_id AS neighbor_id, $sim AS sim
         |  FROM probed p JOIN q ON q.query_id = p.query_id
         |  JOIN cells n ON n.cluster = p.cluster
         |  WHERE n.tenant = q.qtenant AND n.vec_id <> q.query_id),
         |et AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         |      AS rk
         |  FROM cand) WHERE rk <= $K),
         |ht AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER
         |      (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         |      AS rk
         |  FROM cand WHERE cell_rank = 1) WHERE rk <= $K),
         |ex AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, n.vec_id AS neighbor_id, ROW_NUMBER()
         |      OVER (PARTITION BY q.query_id
         |        ORDER BY $sim DESC, n.vec_id) AS rk
         |  FROM q JOIN cells n ON n.tenant = q.qtenant
         |    AND n.vec_id <> q.query_id) WHERE rk <= $K),
         |nx AS (SELECT query_id, COUNT(*) AS n_exact FROM ex
         |  GROUP BY query_id),
         |npb AS (SELECT query_id, MAX(cell_rank) AS n_probe,
         |    SUM(nm) AS n_match_probed FROM probed GROUP BY query_id),
         |nt AS (SELECT query_id, SUM(nm) AS n_match_total FROM pc
         |  GROUP BY query_id),
         |he AS (SELECT et.query_id, COUNT(*) AS nh FROM et
         |  JOIN ex ON ex.query_id = et.query_id
         |    AND ex.neighbor_id = et.neighbor_id GROUP BY et.query_id),
         |hh AS (SELECT ht.query_id, COUNT(*) AS nh FROM ht
         |  JOIN ex ON ex.query_id = ht.query_id
         |    AND ex.neighbor_id = ht.neighbor_id GROUP BY ht.query_id)
         |SELECT q.query_id, q.qtenant AS tenant,
         |  CAST(COALESCE(nt.n_match_total, 0) AS BIGINT)
         |    AS n_match_total,
         |  CAST(npb.n_probe AS INTEGER) AS n_probe,
         |  CAST(COALESCE(npb.n_match_probed, 0) AS BIGINT)
         |    AS n_match_probed,
         |  CAST(COALESCE(nx.n_exact, 0) AS BIGINT) AS n_exact,
         |  round(CASE WHEN COALESCE(nx.n_exact, 0) > 0 THEN
         |    CAST(COALESCE(hh.nh, 0) AS DOUBLE) / nx.n_exact END, 6)
         |    AS recall_home,
         |  round(CASE WHEN COALESCE(nx.n_exact, 0) > 0 THEN
         |    CAST(COALESCE(he.nh, 0) AS DOUBLE) / nx.n_exact END, 6)
         |    AS recall_expand
         |FROM q LEFT JOIN nt ON nt.query_id = q.query_id
         |LEFT JOIN npb ON npb.query_id = q.query_id
         |LEFT JOIN nx ON nx.query_id = q.query_id
         |LEFT JOIN he ON he.query_id = q.query_id
         |LEFT JOIN hh ON hh.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin
    },
    // q298's oracle IS q277's, verbatim: the streamed increments must
    // land on the batch upsert's answer regardless of micro-batch
    // splits or the job restart between them
    "q298_ivf_upsert_stream" -> q277OracleS,
    "q280_stratified_split" -> q280OracleS,
    "q285_matryoshka_recall" -> q285OracleS,
    "q293_anisotropy" -> q293OracleS,
    "q296_label_noise" -> q296OracleS,
    "q286_sign_hamming" -> q286OracleS,
    "q314_multiprobe_lsh" -> q314OracleS,
    "q231_ndcg_lexical" -> {
      val wl = "[" + ndcgWeights(10).mkString(", ") + "]"
      s"""WITH e AS ($embS),
         |ts AS (SELECT doc_id,
         |    list_distinct(${TextPrims.tokensS("text")}) AS ts
         |  FROM documents),
         |qs AS (SELECT doc_id AS query_id, ts AS qts FROM ts
         |  WHERE doc_id < 10),
         |lx AS (SELECT qs.query_id, t.doc_id AS neighbor_id,
         |    round(CAST(len(list_intersect(qs.qts, t.ts)) AS DOUBLE) /
         |      (len(qs.qts) + len(t.ts) - len(list_intersect(qs.qts, t.ts))),
         |      6) AS jac
         |  FROM qs JOIN ts t ON t.doc_id <> qs.query_id
         |  WHERE len(list_intersect(qs.qts, t.ts)) >= 1),
         |lex AS (SELECT query_id, neighbor_id, rk FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY jac DESC, neighbor_id) AS rk FROM lx)
         |  WHERE rk <= 10),
         |g AS (SELECT lex.query_id, lex.neighbor_id, lex.rk,
         |    greatest(round(${simS(s"${dotS("q.e", "n.e")}",
           "q.nrm", "n.nrm")}, 6), 0.0) AS rel
         |  FROM lex
         |  JOIN e n ON lex.neighbor_id = n.vec_id
         |  JOIN e q ON lex.query_id = q.vec_id),
         |i AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, neighbor_id) AS irk FROM g),
         |a AS (SELECT query_id, COUNT(*) AS n,
         |    SUM(CAST(round(rel * ($wl)[rk], 12) AS DECIMAL(28,12)))
         |      AS dcg,
         |    SUM(CAST(round(rel * ($wl)[irk], 12) AS DECIMAL(28,12)))
         |      AS idcg
         |  FROM i GROUP BY query_id)
         |SELECT query_id, CAST(n AS INTEGER) AS n,
         |  round(CAST(dcg AS DOUBLE), 6) AS dcg,
         |  round(CAST(idcg AS DOUBLE), 6) AS idcg,
         |  CASE WHEN idcg > 0 THEN
         |    round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6)
         |  END AS ndcg
         |FROM a ORDER BY query_id""".stripMargin
    },
    "q230_rrf_fusion" ->
      s"""WITH e AS ($embS),
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM e
         |  WHERE vec_id < 10),
         |c AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |    ${simS(s"${dotS("q.qe", "n.e")}", "q.qn", "n.nrm")} AS sim
         |  FROM q CROSS JOIN e n WHERE n.vec_id <> q.query_id),
         |dense AS (SELECT query_id, neighbor_id, rk FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rk FROM c)
         |  WHERE rk <= 10),
         |ts AS (SELECT doc_id,
         |    list_distinct(${TextPrims.tokensS("text")}) AS ts
         |  FROM documents),
         |qs AS (SELECT doc_id AS query_id, ts AS qts FROM ts
         |  WHERE doc_id < 10),
         |lx AS (SELECT qs.query_id, t.doc_id AS neighbor_id,
         |    round(CAST(len(list_intersect(qs.qts, t.ts)) AS DOUBLE) /
         |      (len(qs.qts) + len(t.ts) - len(list_intersect(qs.qts, t.ts))),
         |      6) AS jac
         |  FROM qs JOIN ts t ON t.doc_id <> qs.query_id
         |  WHERE len(list_intersect(qs.qts, t.ts)) >= 1),
         |lex AS (SELECT query_id, neighbor_id, rk FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY jac DESC, neighbor_id) AS rk FROM lx)
         |  WHERE rk <= 10),
         |u AS (SELECT query_id, neighbor_id,
         |    CAST(round(1.0 / (60 + rk), 12) AS DECIMAL(28,12)) AS cb
         |  FROM dense
         |  UNION ALL SELECT query_id, neighbor_id,
         |    CAST(round(1.0 / (60 + rk), 12) AS DECIMAL(28,12))
         |  FROM lex),
         |f AS (SELECT query_id, neighbor_id, SUM(cb) AS rrfd,
         |    COUNT(*) AS n_systems
         |  FROM u GROUP BY query_id, neighbor_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY CAST(rrfd AS DOUBLE) DESC, neighbor_id) AS frk
         |  FROM f)
         |SELECT query_id, neighbor_id, CAST(frk AS INTEGER) AS rk,
         |  CAST(n_systems AS INTEGER) AS n_systems,
         |  round(CAST(rrfd AS DOUBLE), 12) AS rrf_score
         |FROM r WHERE frk <= 5 ORDER BY query_id, rk""".stripMargin,
    "q217_jl_distortion" -> {
      val ps16 = planesFor(SimConfig(numPlanes = 16))
      val plCte = "pl AS (SELECT " + (0 until 16).map(p =>
        "[" + ps16(p).map(_.toString).mkString(", ") + s"] AS pl$p")
        .mkString(", ") + ")"
      val sc = math.sqrt(3.0 / 16)
      val peList = "[" + (0 until 16).map(p =>
        s"${dotS("e0.e", s"pl$p")} * $sc").mkString(", ") + "]"
      def d2(a: String, b: String) =
        s"${dotS(a, a)} - 2 * ${dotS(a, b)} + ${dotS(b, b)}"
      s"""WITH e0 AS ($embS), $plCte,
         |pe AS (SELECT vec_id, e, $peList AS pe FROM e0, pl),
         |q AS (SELECT vec_id AS query_id, e AS qe, pe AS qpe FROM pe
         |  WHERE vec_id < 10),
         |pairs AS (SELECT q.query_id,
         |    ${d2("q.qe", "n.e")} AS td,
         |    ${d2("q.qpe", "n.pe")} AS pd
         |  FROM q CROSS JOIN pe n WHERE n.vec_id <> q.query_id),
         |r AS (SELECT query_id, ABS(pd / td - 1.0) AS rel FROM pairs
         |  WHERE td <> 0)
         |SELECT query_id, CAST(COUNT(*) AS INTEGER) AS n_pairs,
         |  round(CAST(SUM(CAST(round(rel, 6) AS DECIMAL(18,6)))
         |    AS DOUBLE) / COUNT(*), 6) AS mean_distortion,
         |  MAX(round(rel, 6)) AS max_distortion
         |FROM r GROUP BY query_id ORDER BY query_id""".stripMargin
    },
    "q199_retrieval_agreement" ->
      s"""WITH e AS ($embS),
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM e
         |  WHERE vec_id < 10),
         |c AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |    ${simS(s"${dotS("q.qe", "n.e")}", "q.qn", "n.nrm")} AS sim
         |  FROM q CROSS JOIN e n WHERE n.vec_id <> q.query_id),
         |dense AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rk FROM c)
         |  WHERE rk <= 10),
         |ts AS (SELECT doc_id,
         |    list_distinct(${TextPrims.tokensS("text")}) AS ts
         |  FROM documents),
         |qs AS (SELECT doc_id AS query_id, ts AS qts FROM ts
         |  WHERE doc_id < 10),
         |lx AS (SELECT qs.query_id, t.doc_id AS neighbor_id,
         |    round(CAST(len(list_intersect(qs.qts, t.ts)) AS DOUBLE) /
         |      (len(qs.qts) + len(t.ts) - len(list_intersect(qs.qts, t.ts))),
         |      6) AS jac
         |  FROM qs JOIN ts t ON t.doc_id <> qs.query_id
         |  WHERE len(list_intersect(qs.qts, t.ts)) >= 1),
         |lex AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY jac DESC, neighbor_id) AS rk FROM lx)
         |  WHERE rk <= 10),
         |common AS (SELECT lex.query_id, COUNT(*) AS nc FROM lex
         |  JOIN dense ON lex.query_id = dense.query_id
         |    AND lex.neighbor_id = dense.neighbor_id
         |  GROUP BY lex.query_id)
         |SELECT q.query_id, CAST(COALESCE(nc, 0) AS INTEGER) AS n_common,
         |  round(CAST(COALESCE(nc, 0) AS DOUBLE) / 10, 6) AS overlap_at_k
         |FROM (SELECT DISTINCT query_id FROM dense) q
         |LEFT JOIN common ON q.query_id = common.query_id
         |ORDER BY q.query_id""".stripMargin,
    "q31_cosine_topk" -> q31TopkOracleS,
    // q300's oracle IS q31's verbatim: the scatter-gather lemma says
    // the shard-local cut never loses a global winner — hash-equality
    // executes that proof
    "q300_scatter_topk" -> q31TopkOracleS,
    "q32_ann_lsh" ->
      s"""WITH e0 AS ($embS), $planesCte,
         |e AS (SELECT vec_id, e, nrm, ${bucketS("e")} AS bkt FROM e0, pl),
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, bkt
         |  FROM e WHERE vec_id < 10),
         |c AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |    ${simS(s"${dotS("q.qe", "n.e")}", "q.qn", "n.nrm")} AS sim
         |  FROM q JOIN e n USING (bkt) WHERE n.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id, sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rk
         |  FROM c)
         |SELECT query_id, neighbor_id, rk, round(sim, 6) AS cosine
         |FROM r WHERE rk <= $K ORDER BY query_id, rk""".stripMargin,
    "q33_knn_classify" -> knnOracleSql,
    "q35_knn_confusion" -> {
      val pcols = (0 until 10).map(i =>
        s"CAST(count(CASE WHEN n_label = $i THEN 1 END) AS INTEGER) AS p$i")
        .mkString(", ")
      s"""WITH e AS ($embS),
         |test AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn,
         |    label AS true_label
         |  FROM e WHERE vec_id % 7 = 0),
         |train AS (SELECT vec_id AS neighbor_id, e AS ne, nrm AS nn,
         |    label AS n_label
         |  FROM e WHERE vec_id % 7 <> 0),
         |c AS (SELECT query_id, true_label, neighbor_id, n_label,
         |    ${simS(s"${dotS("qe", "ne")}", "qn", "nn")} AS sim
         |  FROM test CROSS JOIN train),
         |nb AS (SELECT query_id, true_label, n_label,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rk
         |  FROM c),
         |votes AS (SELECT query_id, true_label, n_label, count(*) AS votes
         |  FROM nb WHERE rk <= $K GROUP BY query_id, true_label, n_label),
         |win AS (SELECT query_id, n_label, true_label,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY votes DESC, n_label) AS vr
         |  FROM votes)
         |SELECT CAST(true_label AS INTEGER) AS true_label, $pcols
         |FROM win WHERE vr = 1
         |GROUP BY true_label ORDER BY true_label""".stripMargin
    },
    "q34_embed_neardup" ->
      s"""WITH e0 AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |corpus AS (SELECT vec_id, e FROM e0
         |  UNION ALL
         |  SELECT vec_id + $VariantVecOffset, list_transform(e, x -> x * 2.0)
         |  FROM e0 WHERE vec_id % 25 = 0),
         |$planesCte,
         |cb AS (SELECT vec_id, e, sqrt(${dotS("e", "e")}) AS nrm,
         |    ${bucketS("e")} AS bkt FROM corpus, pl),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(${simS(s"${dotS("a.e", "b.e")}", "a.nrm", "b.nrm")}, 6) AS cosine
         |  FROM cb a JOIN cb b ON a.bkt = b.bkt AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cosine FROM p
         |WHERE cosine >= 0.9999 ORDER BY vec_a, vec_b""".stripMargin,
    "q177_ann_tuning_sweep" -> {
      def planeSFor(cfg: SimConfig, p: Int): String =
        "[" + planesFor(cfg)(p).map(_.toString).mkString(", ") + "]"
      val bfCte =
        s"""bq AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM e
           |  WHERE vec_id < 10),
           |bc AS (SELECT bq.query_id, n.vec_id AS neighbor_id,
           |    ${simS(s"${dotS("bq.qe", "n.e")}", "bq.qn", "n.nrm")} AS sim
           |  FROM bq CROSS JOIN e n WHERE n.vec_id <> bq.query_id),
           |bfr AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
           |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
           |    FROM bc) z WHERE rk <= $K)""".stripMargin
      val blocks = TuningPlaneCounts.map { pc =>
        val cfg = SimConfig(numPlanes = pc)
        val t = s"p$pc"
        val planeCols = (0 until pc)
          .map(i => s"${planeSFor(cfg, i)} AS ${t}pl$i").mkString(", ")
        val bkt = (0 until pc).map(i =>
          s"(CASE WHEN ${dotS("e", s"${t}pl$i")} >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ")
        s"""${t}pl AS (SELECT $planeCols),
           |${t}e AS (SELECT vec_id, e, nrm, $bkt AS bkt FROM e, ${t}pl),
           |${t}q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, bkt
           |  FROM ${t}e WHERE vec_id < 10),
           |${t}cand AS (SELECT q.query_id, q.qe, q.qn,
           |    n.vec_id AS neighbor_id, n.e AS ne, n.nrm AS nn
           |  FROM ${t}q q JOIN ${t}e n USING (bkt)
           |  WHERE n.vec_id <> q.query_id),
           |${t}cc AS (SELECT query_id, COUNT(*) AS n_candidates
           |  FROM ${t}cand GROUP BY 1),
           |${t}top AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
           |      PARTITION BY query_id ORDER BY
           |        ${simS(s"${dotS("qe", "ne")}", "qn", "nn")} DESC,
           |        neighbor_id) AS rk
           |    FROM ${t}cand) z WHERE rk <= $K),
           |${t}hits AS (SELECT b.query_id, COUNT(*) AS n_hits FROM bfr b
           |  JOIN ${t}top tt ON b.query_id = tt.query_id
           |    AND b.neighbor_id = tt.neighbor_id
           |  GROUP BY 1),
           |${t}res AS (SELECT $pc AS num_planes, q.query_id,
           |    CAST(COALESCE(cc.n_candidates, 0) AS INTEGER) AS n_candidates,
           |    CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS n_hits,
           |    CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / $K AS recall
           |  FROM (SELECT DISTINCT query_id FROM ${t}q) q
           |  LEFT JOIN ${t}cc cc USING (query_id)
           |  LEFT JOIN ${t}hits h USING (query_id))""".stripMargin
      }
      val sel = TuningPlaneCounts.map(pc => s"SELECT * FROM p${pc}res")
        .mkString("\nUNION ALL ")
      (s"WITH e AS ($embS)" +: bfCte +: blocks).mkString(",\n") + "\n" + sel +
        "\nORDER BY num_planes, query_id"
    },
    "q166_diverse_select" -> {
      // the k greedy rounds unroll as CTEs (the q142 fixed-iteration
      // pattern): each pick cross-joins the previous 1-row picks, computes
      // the min cosine-distance to the selected set with the SAME double
      // expression as the Spark side, and takes the (dm DESC, vec_id)
      // argmax
      val K = 8
      def cosD(b: String) =
        s"1 - ${dotS("n.e", s"$b.e")} / (n.nrm * $b.nrm)"
      val base =
        s"""WITH c AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |  FROM embeddings),
           |n AS (SELECT vec_id, e, sqrt(${dotS("e", "e")}) AS nrm FROM c),
           |p1 AS (SELECT vec_id, e, nrm, CAST(NULL AS DOUBLE) AS dm
           |  FROM n ORDER BY vec_id LIMIT 1)""".stripMargin
      val rounds = (2 to K).map { i =>
        val dists = (1 until i).map(j => cosD(s"p$j"))
        val dm = if (dists.size == 1) dists.head
          else s"LEAST(${dists.mkString(", ")})"
        val crossJ = (1 until i).map(j => s"CROSS JOIN p$j").mkString(" ")
        s"""p$i AS (SELECT n.vec_id, n.e, n.nrm, $dm AS dm
           |  FROM n $crossJ
           |  ORDER BY dm DESC, n.vec_id LIMIT 1)""".stripMargin
      }
      val sel = (1 to K).map(i =>
        s"SELECT $i AS rank, vec_id, round(dm, 6) AS dist FROM p$i")
        .mkString("\nUNION ALL ")
      (base +: rounds).mkString(",\n") + "\n" + sel + "\nORDER BY rank"
    },
    "q164_split_leakage" ->
      s"""WITH e0 AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |$planesCte,
         |tr AS (SELECT vec_id AS train_id, e AS te,
         |    sqrt(${dotS("e", "e")}) AS tn, ${bucketS("e")} AS bkt
         |  FROM e0, pl
         |  WHERE ${TextPrims.hex60S("md5(CAST(vec_id AS VARCHAR))")} % 100 < 80),
         |ev0 AS (SELECT vec_id + $VariantVecOffset AS eval_id,
         |    list_transform(e, x -> x * 1.5) AS e FROM e0 WHERE vec_id % 25 = 0
         |  UNION ALL SELECT vec_id + ${2 * VariantVecOffset},
         |    list_reverse(e) FROM e0 WHERE vec_id % 17 = 0),
         |ev AS (SELECT eval_id, e AS ee, sqrt(${dotS("e", "e")}) AS en,
         |    ${bucketS("e")} AS bkt FROM ev0, pl),
         |m AS (SELECT eval_id, train_id,
         |    round(${simS(s"${dotS("ee", "te")}", "en", "tn")}, 6) AS cosine
         |  FROM ev JOIN tr USING (bkt)
         |  WHERE round(${simS(s"${dotS("ee", "te")}", "en", "tn")}, 6)
         |    >= 0.999),
         |r AS (SELECT eval_id, train_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY eval_id
         |      ORDER BY cosine DESC, train_id) AS rk,
         |    CAST(COUNT(*) OVER (PARTITION BY eval_id) AS INTEGER)
         |      AS n_matches
         |  FROM m)
         |SELECT eval_id, train_id, cosine, n_matches
         |FROM r WHERE rk = 1 ORDER BY eval_id""".stripMargin,
    "q175_split_centroid_drift" -> {
      val splitS =
        s"""CASE WHEN ${TextPrims.hex60S("md5(CAST(vec_id AS VARCHAR))")}
           | % 100 < 80 THEN 'train'
           | WHEN ${TextPrims.hex60S("md5(CAST(vec_id AS VARCHAR))")}
           | % 100 < 90 THEN 'val' ELSE 'test' END"""
          .stripMargin.replace("\n", "")
      s"""WITH base AS (SELECT vec_id, $splitS AS split, embedding
         |  FROM embeddings),
         |d AS (SELECT split, g.i - 1 AS dim,
         |    CAST(embedding[g.i] AS DOUBLE) AS xd
         |  FROM base CROSS JOIN generate_series(1, $Dim) AS g(i)),
         |c AS (SELECT split, dim,
         |    CAST(SUM(CAST(CAST(xd AS DECIMAL(18,9)) * 1000000000 AS BIGINT))
         |      AS DOUBLE) / COUNT(*) / 1000000000.0 AS mu
         |  FROM d GROUP BY 1, 2),
         |n AS (SELECT split, CAST(COUNT(*) AS INTEGER) AS n FROM base
         |  GROUP BY 1),
         |p AS (SELECT a.split AS split_a, b.split AS split_b,
         |    SUM(CAST((a.mu - b.mu) * (a.mu - b.mu) AS DECIMAL(38,12))) AS d2
         |  FROM c a JOIN c b ON a.dim = b.dim AND a.split < b.split
         |  GROUP BY 1, 2)
         |SELECT split_a, split_b, na.n AS n_a, nb.n AS n_b,
         |  round(sqrt(CAST(d2 AS DOUBLE)), 6) AS centroid_dist
         |FROM p JOIN n na ON split_a = na.split JOIN n nb ON split_b = nb.split
         |ORDER BY split_a, split_b""".stripMargin
    },
    "q141_centroid_outliers" ->
      s"""WITH d AS (SELECT vec_id, label, g.i - 1 AS dim,
         |    CAST(embedding[g.i] AS DOUBLE) AS xd
         |  FROM embeddings CROSS JOIN generate_series(1, $Dim) AS g(i)),
         |c AS (SELECT label, dim,
         |    CAST(SUM(CAST(CAST(xd AS DECIMAL(18,9)) * 1000000000 AS BIGINT))
         |      AS DOUBLE) / COUNT(*) / 1000000000.0 AS mu
         |  FROM d GROUP BY 1, 2),
         |s2 AS (SELECT vec_id, d.label,
         |    SUM(CAST((xd - mu) * (xd - mu) AS DECIMAL(38,12))) AS d2
         |  FROM d JOIN c ON d.label = c.label AND d.dim = c.dim
         |  GROUP BY 1, 2),
         |r AS (SELECT label, vec_id, d2,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY label
         |      ORDER BY d2 DESC, vec_id) AS INTEGER) AS rk
         |  FROM s2)
         |SELECT label, rk, vec_id, round(sqrt(CAST(d2 AS DOUBLE)), 6) AS dist
         |FROM r WHERE rk <= 5 ORDER BY label, rk""".stripMargin,
    "q44_embedding_stats" ->
      s"""WITH e AS ($embS)
         |SELECT label, count(*) AS n,
         |  round(CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         |    AS mean_norm
         |FROM e GROUP BY label ORDER BY label""".stripMargin,
  ) ++ Map(
    // q45 = q33 semantics via the top-k aggregator; same oracle
    "q45_knn_topk_agg" -> knnOracleSql,
    "q61_ann_ivf" -> q61OracleS,
    // q170's oracle IS q61's: the persisted index must answer the same
    // queries identically — the round trip is the thing under test
    "q170_ann_ivf_persisted" -> q61OracleS,
    "q262_ivf_tombstones" ->
      ivfOracleS("NOT (n.vec_id % 10 = 3 AND n.vec_id >= 10)"),
    // q265's oracle IS q262's: a lossless compaction answers the probe
    // exactly as the tombstone-filtered index did
    "q265_ivf_compacted" ->
      ivfOracleS("NOT (n.vec_id % 10 = 3 AND n.vec_id >= 10)"),
    "q236_ivf_nprobe_sweep" -> {
      import graft.ml.LloydExact.{Iters, K => LK}
      val chain = graft.ml.LloydExact.lloydCtesFor(
        """SELECT vec_id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          |  FROM embeddings""".stripMargin, "g")
      val ws = (1 to LK).mkString(", ")
      s"""WITH $chain,
         |qc AS (SELECT query_id, cluster, cell_rank FROM (
         |  SELECT q.vec_id AS query_id, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${dotS("c.c", "c.c")} - 2 * ${dotS("q.e", "c.c")},
         |      c.cluster) AS cell_rank
         |  FROM (SELECT vec_id, e FROM ge WHERE vec_id < 10) q
         |  CROSS JOIN gc$Iters c)),
         |cand AS (SELECT qc.query_id, a.vec_id, qc.cell_rank,
         |    ${dotS("q.e", "q.e")} - 2 * ${dotS("q.e", "a.e")}
         |      + ${dotS("a.e", "a.e")} AS ed
         |  FROM gafinal a JOIN qc ON a.cluster = qc.cluster
         |  JOIN ge q ON q.vec_id = qc.query_id
         |  WHERE a.vec_id <> qc.query_id),
         |truth AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY ed, vec_id) AS rk FROM cand)
         |  WHERE rk <= 10),
         |sweep AS (SELECT query_id, vec_id, cell_rank, ed, nprobe
         |  FROM cand CROSS JOIN (SELECT unnest([$ws]) AS nprobe) w
         |  WHERE cell_rank <= nprobe),
         |topw AS (SELECT query_id, nprobe, vec_id FROM (
         |  SELECT query_id, nprobe, vec_id, ROW_NUMBER() OVER (
         |    PARTITION BY query_id, nprobe ORDER BY ed, vec_id) AS rk
         |  FROM sweep) WHERE rk <= 10),
         |sc AS (SELECT query_id, nprobe, COUNT(*) AS n_scanned
         |  FROM sweep GROUP BY query_id, nprobe),
         |hits AS (SELECT t.query_id, t.nprobe, COUNT(*) AS nh
         |  FROM topw t JOIN truth ON t.query_id = truth.query_id
         |    AND t.vec_id = truth.vec_id
         |  GROUP BY t.query_id, t.nprobe)
         |SELECT sc.query_id, CAST(sc.nprobe AS INTEGER) AS nprobe,
         |  CAST(sc.n_scanned AS INTEGER) AS n_scanned,
         |  round(CAST(COALESCE(nh, 0) AS DOUBLE) / 10, 6) AS recall_at_k
         |FROM sc LEFT JOIN hits
         |  ON sc.query_id = hits.query_id AND sc.nprobe = hits.nprobe
         |ORDER BY sc.query_id, sc.nprobe""".stripMargin
    },
    "q171_ann_sq8" ->
      s"""WITH e0 AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |n0 AS (SELECT vec_id, e, sqrt(${dotS("e", "e")}) AS nrm FROM e0),
         |am AS (SELECT MAX(list_max(list_transform(e, x -> abs(x)))) AS a
         |  FROM e0),
         |qz AS (SELECT vec_id, list_transform(e, x ->
         |    greatest(least(round(x * 127.0 / a, 0), 127.0), -127.0)) AS q
         |  FROM e0, am),
         |qn AS (SELECT vec_id, q, sqrt(${dotS("q", "q")}) AS qn FROM qz),
         |pr AS (SELECT vec_id AS query_id, q AS pq, qn AS pn FROM qn
         |  WHERE vec_id < 10),
         |ap AS (SELECT pr.query_id, c.vec_id AS neighbor_id,
         |    ${dotS("pr.pq", "c.q")} / (pr.pn * c.qn) AS approx
         |  FROM qn c CROSS JOIN pr WHERE c.vec_id <> pr.query_id),
         |tr AS (SELECT query_id, neighbor_id, approx,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY approx DESC, neighbor_id) AS rr FROM ap),
         |cd AS (SELECT query_id, neighbor_id, approx FROM tr
         |  WHERE rr <= $Sq8TopR),
         |rr2 AS (SELECT cd.query_id, cd.neighbor_id, cd.approx,
         |    ${simS(s"${dotS("a.e", "b.e")}", "a.nrm", "b.nrm")} AS cosine
         |  FROM cd JOIN n0 a ON cd.query_id = a.vec_id
         |    JOIN n0 b ON cd.neighbor_id = b.vec_id),
         |r AS (SELECT query_id, neighbor_id, approx, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rk FROM rr2)
         |SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rk,
         |  round(cosine, 6) AS cosine, round(approx, 6) AS approx_sim
         |FROM r WHERE rk <= $K ORDER BY query_id, rk""".stripMargin,
    "q181_semdedup" -> {
      val L = graft.ml.LloydExact
      val off = VariantVecOffset
      s"""WITH ${L.lloydCtesS},
         |aug AS (SELECT vec_id, e FROM e
         |  UNION ALL SELECT vec_id + $off,
         |    list_transform(e, x -> x * 2.0) FROM e WHERE vec_id % 10 = 0
         |  UNION ALL SELECT vec_id + ${2L * off},
         |    list_transform(e, x -> x * 0.5) FROM e WHERE vec_id % 15 = 0),
         |an AS (SELECT vec_id, e, sqrt(${L.dotS("e", "e")}) AS nrm
         |  FROM aug),
         |cn AS (SELECT cluster, c, sqrt(${L.dotS("c", "c")}) AS cnrm
         |  FROM c${L.Iters}),
         |cells AS (SELECT vec_id, e, nrm, cluster FROM (
         |  SELECT a.vec_id, a.e, a.nrm, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |      ${L.dotS("a.e", "c.c")} / (a.nrm * c.cnrm) DESC,
         |      c.cluster) AS rn
         |  FROM an a CROSS JOIN cn c) WHERE rn = 1),
         |p AS (SELECT b.vec_id, b.cluster, a.vec_id AS kept_id,
         |    round(${L.dotS("a.e", "b.e")} / (a.nrm * b.nrm), 6) AS cosine
         |  FROM cells a JOIN cells b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
         |r AS (SELECT vec_id, cluster, kept_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY cosine DESC, kept_id) AS rk
         |  FROM p WHERE cosine >= 0.999)
         |SELECT vec_id, cluster, kept_id, cosine
         |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin
    },
    "q71_ann_recall" -> {
      val L = graft.ml.LloydExact
      s"""WITH ${L.lloydCtesS},
         |cells AS (SELECT vec_id, e, cluster,
         |    sqrt(${L.dotS("e", "e")}) AS nrm FROM afinal),
         |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, cluster
         |  FROM cells WHERE vec_id < 10),
         |bfc AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |    ${simS(s"${L.dotS("q.qe", "n.e")}", "q.qn", "n.nrm")} AS sim
         |  FROM q CROSS JOIN cells n WHERE n.vec_id <> q.query_id),
         |bf AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
         |    FROM bfc) WHERE rk <= $K),
         |ivfc AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |    ${simS(s"${L.dotS("q.qe", "n.e")}", "q.qn", "n.nrm")} AS sim
         |  FROM q JOIN cells n USING (cluster) WHERE n.vec_id <> q.query_id),
         |ivf AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
         |    FROM ivfc) WHERE rk <= $K)
         |SELECT bf.query_id,
         |  CAST(count(ivf.neighbor_id) AS INTEGER) AS n_hits,
         |  CAST(count(ivf.neighbor_id) AS DOUBLE) / $K AS recall
         |FROM bf LEFT JOIN ivf ON bf.query_id = ivf.query_id
         |  AND bf.neighbor_id = ivf.neighbor_id
         |GROUP BY bf.query_id ORDER BY bf.query_id""".stripMargin
    },
    "q58_knn_weighted" ->
      s"""WITH e AS ($embS),
         |test AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn,
         |    label AS true_label
         |  FROM e WHERE vec_id % 7 = 0),
         |train AS (SELECT vec_id AS neighbor_id, e AS ne, nrm AS nn,
         |    label AS n_label
         |  FROM e WHERE vec_id % 7 <> 0),
         |c AS (SELECT query_id, true_label, neighbor_id, n_label,
         |    ${simS(s"${dotS("qe", "ne")}", "qn", "nn")} AS sim
         |  FROM test CROSS JOIN train),
         |nb AS (SELECT query_id, true_label, n_label, sim,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rk
         |  FROM c),
         |votes AS (SELECT query_id, true_label, n_label,
         |    CAST(SUM(CAST(1.0 / (1.0 - sim + 1e-9) AS DECIMAL(28,9)))
         |      AS DOUBLE) AS wsum
         |  FROM nb WHERE rk <= $K GROUP BY query_id, true_label, n_label),
         |win AS (SELECT query_id, n_label, true_label,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY wsum DESC, n_label) AS vr
         |  FROM votes)
         |SELECT query_id AS vec_id, CAST(n_label AS INTEGER) AS pred_label,
         |  CAST(n_label = true_label AS INTEGER) AS correct
         |FROM win WHERE vr = 1 ORDER BY vec_id""".stripMargin
  )

  private lazy val knnOracleSql: String =
    s"""WITH e AS ($embS),
       |test AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn,
       |    label AS true_label
       |  FROM e WHERE vec_id % 7 = 0),
       |train AS (SELECT vec_id AS neighbor_id, e AS ne, nrm AS nn,
       |    label AS n_label
       |  FROM e WHERE vec_id % 7 <> 0),
       |c AS (SELECT query_id, true_label, neighbor_id, n_label,
       |    ${simS(s"${dotS("qe", "ne")}", "qn", "nn")} AS sim
       |  FROM test CROSS JOIN train),
       |nb AS (SELECT query_id, true_label, n_label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS rk
       |  FROM c),
       |votes AS (SELECT query_id, true_label, n_label, count(*) AS votes
       |  FROM nb WHERE rk <= $K GROUP BY query_id, true_label, n_label),
       |win AS (SELECT query_id, n_label, true_label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY votes DESC, n_label) AS vr
       |  FROM votes)
       |SELECT query_id AS vec_id, CAST(n_label AS INTEGER) AS pred_label,
       |  CAST(n_label = true_label AS INTEGER) AS correct
       |FROM win WHERE vr = 1 ORDER BY vec_id""".stripMargin
}
