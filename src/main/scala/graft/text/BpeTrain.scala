package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextPrims._
import graft.sources.Tables

/** q246: BPE TOKENIZER TRAINING — the first `Merges` merge steps of
  * byte-pair encoding over the corpus word-type table, as pure
  * relational algebra. Each step: (1) count every adjacent symbol pair
  * weighted by word frequency, (2) pick the most frequent pair (ties:
  * lexicographically smallest), (3) rewrite every word's symbol
  * sequence, merging occurrences greedily LEFTMOST NON-OVERLAPPING —
  * the rule real BPE tokenizers apply. Reports, per step: the merged
  * pair, its count, and the post-merge corpus symbol count + symbol
  * vocabulary size (the compression curve a tokenizer team reads to
  * size the merge table).
  *
  * The leftmost-non-overlap subtlety: two candidate matches can only
  * overlap when left==right (a run "aaa" matches (a,a) at two adjacent
  * positions but may merge only once). Runs of consecutive matches are
  * grouped by the classic pos−rank key and every ODD match inside its
  * run is suppressed — exactly the greedy scan a sequential tokenizer
  * performs, but expressed as two window passes so it runs distributed.
  *
  * Determinism: integer arithmetic end to end (frequencies, counts,
  * positions) — no float anywhere, so the DuckDB oracle (the identical
  * algorithm as chained CTEs from the same spelling generator) matches
  * exactly by construction.
  *
  * Shape at 100 TB: the state is the WORD-TYPE table (types × avg word
  * length rows — millions, not trillions — after the one corpus-scan
  * frequency agg), repartitioned by word so every per-step window and
  * rewrite is a within-partition pass; the pair-count agg partial-
  * aggregates map-side onto the tiny pair-key space; the per-step state
  * is localCheckpoint'ed so `Merges` steps stay `Merges` jobs, not a
  * nested-lineage replay. */
object BpeTrain {
  val Merges = 6

  private def wordWin = Window.partitionBy("word").orderBy("pos")

  /** (word, freq, pos, sym): the symbol table of a (word, freq) frame. */
  private[graft] def symbolsOf(words: DataFrame): DataFrame =
    words.filter(length(col("word")) > 0)
      .select(col("word"), col("freq"),
        posexplode(transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1)))).as(Seq("pos0", "sym")))
      .select(col("word"), col("freq"),
        (col("pos0") + 1).cast(IntegerType).as("pos"), col("sym"))

  private def symbols0(s: SparkSession, dir: String): DataFrame =
    symbolsOf(Tables.load(s, dir, "documents")
      .select(explode(tokensC(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq")))

  /** One merge step: (post-merge symbol table, 1-row step report). */
  private def step(tbl: DataFrame, stepNo: Int): (DataFrame, DataFrame) = {
    val p = tbl.withColumn("nxt", lead("sym", 1).over(wordWin))
    val best = p.filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("l"), col("nxt").as("r"))
      .agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("l"), col("r"))
      .limit(1)
    val m = p.crossJoin(broadcast(best))
      .withColumn("marked",
        coalesce(col("sym") === col("l") && col("nxt") === col("r"),
          lit(false)))
      .withColumn("idx", sum(when(col("marked"), 1).otherwise(0))
        .over(wordWin.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("runkey", when(col("marked"), col("pos") - col("idx")))
      .withColumn("minidx", min(when(col("marked"), col("idx")))
        .over(Window.partitionBy("word", "runkey")))
      .withColumn("keep",
        col("marked") && (col("idx") - col("minidx")) % 2 === 0)
      .withColumn("consumed",
        coalesce(lag("keep", 1).over(wordWin), lit(false)))
    val next = m.filter(!col("consumed"))
      .withColumn("sym2",
        when(col("keep"), concat(col("l"), col("r"))).otherwise(col("sym")))
      .select(col("word"), col("freq"),
        row_number().over(wordWin).cast(IntegerType).as("pos"),
        col("sym2").as("sym"))
      .localCheckpoint()
    val stats = next.agg(sum("freq").as("corpus_syms"),
      countDistinct("sym").cast(IntegerType).as("sym_types"))
    val report = best.crossJoin(stats)
      .select(lit(stepNo).cast(IntegerType).as("step"),
        col("l").as("lsym"), col("r").as("rsym"),
        col("cnt").as("pair_count"), col("corpus_syms"), col("sym_types"))
    (next, report)
  }

  /** The merge loop over an arbitrary symbol table — exposed so the
    * spec can drive adversarial fixtures (same-symbol runs) through the
    * exact production path. */
  private[graft] def mergeLoop(symbols: DataFrame,
                               merges: Int = Merges): DataFrame = {
    var tbl = symbols.localCheckpoint()
    var reports = Vector.empty[DataFrame]
    for (i <- 1 to merges) {
      val (next, report) = step(tbl, i)
      tbl = next
      reports :+= report
    }
    reports.reduce(_ unionByName _).orderBy("step")
  }

  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    mergeLoop(Tables.fanOut(symbols0(s, dir), "word"))

  /** q289: TOKENIZER STABILITY — q246's merge training run on the two
    * doc_id halves of the corpus, merge-by-merge: if the learned table
    * depends on which half of the crawl it saw, the tokenizer is
    * fit to noise, not to the language. Per step: both halves' chosen
    * pairs and an agreement flag — the bootstrap-style robustness
    * check a tokenizer team runs before freezing a vocab. Cost is two
    * word-TYPE-table merge loops (the q246 shape — corpus-size
    * independent state). */
  def bpeStability(s: SparkSession, dir: String): DataFrame = {
    def half(rem: Int): DataFrame =
      mergeLoop(Tables.fanOut(symbolsOf(
        Tables.load(s, dir, "documents")
          .filter(col("doc_id") % 2 === rem)
          .select(explode(tokensC(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("freq"))), "word"))
    // the two half-corpus trainings are independent pure functions of
    // the input — run them as ONE wave (the q201 pattern): each loop is
    // a chain of small per-step jobs, so serial execution is scheduler-
    // bound, not compute-bound; results are identical either way
    val halves = Tables.wave(Seq(0, 1).map(r => () =>
      half(r).localCheckpoint()))
    val a = halves(0).select(col("step"), col("lsym").as("lsym_a"),
      col("rsym").as("rsym_a"), col("pair_count").as("count_a"))
    val b = halves(1).select(col("step"), col("lsym").as("lsym_b"),
      col("rsym").as("rsym_b"), col("pair_count").as("count_b"))
    a.join(b, Seq("step"))
      .withColumn("agree",
        (col("lsym_a") === col("lsym_b") &&
          col("rsym_a") === col("rsym_b")).cast(IntegerType))
      .orderBy("step")
  }

  /** q249: BPE COMPRESSION — the evaluation that justifies a merge
    * table: apply q246's learned merges back to the corpus and report,
    * per source, the words / post-merge symbols / characters totals and
    * the two ratios a tokenizer team tracks — chars-per-symbol (how
    * much text each symbol carries; 1.0 = no compression) and
    * symbols-per-word (the q167 fertility analogue under the LEARNED
    * vocabulary instead of a fixed regex). Sources whose spelling the
    * merges fit compress harder — the per-source spread is the
    * domain-mismatch signal.
    *
    * Shape at 100 TB: the merge loop runs on the word-TYPE table (q246,
    * types not instances); application back to the corpus is a
    * broadcast-size join of per-type symbol lengths against the
    * per-(source, word) count aggregate — one corpus scan, integer
    * arithmetic end to end. */
  def bpeCompression(s: SparkSession, dir: String): DataFrame = {
    var tbl = Tables.fanOut(symbols0(s, dir), "word").localCheckpoint()
    for (i <- 1 to Merges) tbl = step(tbl, i)._1
    val symLen = tbl.groupBy("word")
      .agg(count(lit(1)).cast(IntegerType).as("sym_len"))
    val wordCnt = Tables.load(s, dir, "documents")
      .select(col("source"), explode(tokensC(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    wordCnt.join(symLen, "word")
      .groupBy("source")
      .agg(sum("cnt").as("n_words"),
        sum(col("cnt") * col("sym_len")).as("n_syms"),
        sum(col("cnt") * length(col("word"))).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_syms"), col("n_chars"),
        round(col("n_chars").cast(DoubleType) / col("n_syms"), 6)
          .as("chars_per_sym"),
        round(col("n_syms").cast(DoubleType) / col("n_words"), 6)
          .as("syms_per_word"))
      .orderBy("source")
  }

  /** q321: THE VOCAB ARTIFACT — the learned token inventory tokenizer
    * training actually ships, which q246 (the merge curve) and q249
    * (compression ratios) never emit: per final symbol, its corpus
    * occurrence count, corpus share, cumulative coverage down the
    * frequency ranking, and whether it is still a single character
    * (unmerged residue — the byte-fallback tail of a real vocab file).
    * The coverage curve is the number a tokenizer team reads to decide
    * whether `Merges` was enough: how much of the corpus the top-k
    * vocabulary entries explain.
    *
    * Corpus counts come FREE from the merge state: the word-TYPE table
    * carries each type's corpus frequency, so occurrences(sym) =
    * Σ_types freq·(slots of sym in the type) = one hash-agg over the
    * final symbol table — no second corpus scan. Cumulative coverage is
    * an integer running sum over the (cnt desc, sym) total order,
    * divided once at the end — exact in both engines. The ranking
    * window is VOCABULARY-sized (sym_types rows, bounded by the merge
    * count + alphabet), not corpus-sized — single-partition is correct
    * here, same as q246's 1-row-per-step reports. */
  def bpeVocab(s: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    var tbl = Tables.fanOut(symbols0(s, dir), "word").localCheckpoint()
    for (i <- 1 to Merges) tbl = step(tbl, i)._1
    val v = tbl.groupBy("sym").agg(sum("freq").as("cnt"))
    val tot = tbl.agg(sum("freq").as("tot"))
    val byCnt = Window.orderBy(col("cnt").desc, col("sym"))
    v.withColumn("rnk", row_number().over(byCnt).cast(IntegerType))
      .withColumn("cum", sum("cnt").over(byCnt.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rnk") <= topK)
      .crossJoin(broadcast(tot))
      .select(col("rnk"), col("sym"), col("cnt"),
        round(col("cnt").cast(DoubleType) / col("tot"), 6).as("share"),
        round(col("cum").cast(DoubleType) / col("tot"), 6).as("cum_share"),
        (length(col("sym")) === 1).cast(IntegerType).as("single_char"))
      .orderBy("rnk")
  }

  // ---------------------------------------------------------------- oracle
  private val T = tokensS("text")

  /** The per-step CTE block — the same algorithm as [[step]], spelled
    * once and instantiated per iteration so Spark and oracle cannot
    * drift. */
  private def stepCtes(i: Int, pre: String): String = {
    val prev = s"${pre}t${i - 1}"
    s"""${pre}p$i AS (SELECT word, freq, pos, sym,
       |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |  FROM $prev),
       |${pre}b$i AS (SELECT sym AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM ${pre}p$i WHERE nxt IS NOT NULL GROUP BY sym, nxt
       |  ORDER BY cnt DESC, l, r LIMIT 1),
       |${pre}m$i AS (SELECT p.word, p.freq, p.pos, p.sym, b.l, b.r, b.cnt,
       |    COALESCE(p.sym = b.l AND p.nxt = b.r, FALSE) AS marked,
       |    SUM(CASE WHEN COALESCE(p.sym = b.l AND p.nxt = b.r, FALSE)
       |      THEN 1 ELSE 0 END) OVER (PARTITION BY p.word ORDER BY p.pos
       |      ROWS UNBOUNDED PRECEDING) AS idx
       |  FROM ${pre}p$i p CROSS JOIN ${pre}b$i b),
       |${pre}k$i AS (SELECT *, CASE WHEN marked THEN pos - idx END AS runkey
       |  FROM ${pre}m$i),
       |${pre}x$i AS (SELECT *, marked AND ((idx - MIN(CASE WHEN marked THEN idx
       |      END) OVER (PARTITION BY word, runkey)) % 2 = 0) AS keep
       |  FROM ${pre}k$i),
       |${pre}y$i AS (SELECT *, COALESCE(lag(keep) OVER (PARTITION BY word
       |      ORDER BY pos), FALSE) AS consumed
       |  FROM ${pre}x$i),
       |${pre}t$i AS (SELECT word, freq,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
       |      AS INTEGER) AS pos,
       |    CASE WHEN keep THEN l || r ELSE sym END AS sym
       |  FROM ${pre}y$i WHERE NOT consumed),
       |${pre}s$i AS (SELECT CAST($i AS INTEGER) AS step, b.l AS lsym,
       |    b.r AS rsym, b.cnt AS pair_count, st.corpus_syms, st.sym_types
       |  FROM ${pre}b$i b CROSS JOIN (SELECT CAST(SUM(freq) AS BIGINT)
       |      AS corpus_syms,
       |    CAST(COUNT(DISTINCT sym) AS INTEGER) AS sym_types FROM ${pre}t$i) st)"""
      .stripMargin
  }

  /** The corpus + merge-chain CTE prefix, parametrized by CTE-name
    * prefix and a corpus predicate (q289 trains two prefixed chains on
    * the doc_id halves in one query). */
  private def chainCtesFor(pre: String, pred: String): String = {
    val steps = (1 to Merges).map(i => stepCtes(i, pre)).mkString(",\n")
    s"""${pre}w AS (SELECT word, COUNT(*) AS freq FROM (
       |    SELECT unnest($T) AS word FROM documents WHERE $pred)
       |  WHERE length(word) > 0 GROUP BY word),
       |${pre}t0 AS (SELECT word, freq, CAST(u['pos'] AS INTEGER) AS pos,
       |    u['sym'] AS sym
       |  FROM (SELECT word, freq, unnest(list_transform(
       |    generate_series(1, length(word)),
       |    i -> {'pos': i, 'sym': substr(word, i, 1)})) AS u
       |    FROM ${pre}w)),
       |$steps""".stripMargin
  }

  /** The shared corpus + merge-chain CTE prefix (w, t0, step CTEs). */
  private def chainCtes: String = chainCtesFor("", "TRUE")

  def oracleSql: Map[String, String] = Map(
    "q289_bpe_stability" -> {
      def arms(pre: String) =
        (1 to Merges).map(i => s"SELECT * FROM $pre" + s"s$i")
          .mkString("\nUNION ALL\n")
      s"""WITH ${chainCtesFor("ea", "doc_id % 2 = 0")},
         |${chainCtesFor("eb", "doc_id % 2 = 1")},
         |aa AS (${arms("ea")}),
         |bb AS (${arms("eb")})
         |SELECT aa.step,
         |  aa.lsym AS lsym_a, aa.rsym AS rsym_a,
         |  aa.pair_count AS count_a,
         |  bb.lsym AS lsym_b, bb.rsym AS rsym_b,
         |  bb.pair_count AS count_b,
         |  CAST(CASE WHEN aa.lsym = bb.lsym AND aa.rsym = bb.rsym
         |    THEN 1 ELSE 0 END AS INTEGER) AS agree
         |FROM aa JOIN bb ON aa.step = bb.step
         |ORDER BY aa.step""".stripMargin
    },
    "q246_bpe_merges" -> {
      val arms = (1 to Merges).map(i => s"SELECT * FROM s$i")
        .mkString("\nUNION ALL\n")
      s"""WITH $chainCtes
         |$arms
         |ORDER BY step""".stripMargin
    },
    "q321_bpe_vocab" ->
      s"""WITH $chainCtes,
         |v AS (SELECT sym, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM t$Merges GROUP BY sym),
         |tt AS (SELECT CAST(SUM(freq) AS BIGINT) AS tot FROM t$Merges),
         |r AS (SELECT sym, cnt,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, sym) AS INTEGER)
         |      AS rnk,
         |    SUM(cnt) OVER (ORDER BY cnt DESC, sym
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM v)
         |SELECT r.rnk, r.sym, r.cnt,
         |  round(CAST(r.cnt AS DOUBLE) / tt.tot, 6) AS share,
         |  round(CAST(r.cum AS DOUBLE) / tt.tot, 6) AS cum_share,
         |  CAST(length(r.sym) = 1 AS INTEGER) AS single_char
         |FROM r CROSS JOIN tt WHERE r.rnk <= 50
         |ORDER BY r.rnk""".stripMargin,
    "q249_bpe_compression" ->
      s"""WITH $chainCtes,
         |sl AS (SELECT word, CAST(COUNT(*) AS INTEGER) AS sym_len
         |  FROM t$Merges GROUP BY word),
         |wc AS (SELECT source, word, COUNT(*) AS cnt FROM (
         |    SELECT source, unnest($T) AS word FROM documents)
         |  WHERE length(word) > 0 GROUP BY source, word)
         |SELECT wc.source,
         |  CAST(SUM(wc.cnt) AS BIGINT) AS n_words,
         |  CAST(SUM(wc.cnt * sl.sym_len) AS BIGINT) AS n_syms,
         |  CAST(SUM(wc.cnt * length(wc.word)) AS BIGINT) AS n_chars,
         |  round(CAST(SUM(wc.cnt * length(wc.word)) AS DOUBLE) /
         |    SUM(wc.cnt * sl.sym_len), 6) AS chars_per_sym,
         |  round(CAST(SUM(wc.cnt * sl.sym_len) AS DOUBLE) /
         |    SUM(wc.cnt), 6) AS syms_per_word
         |FROM wc JOIN sl ON wc.word = sl.word
         |GROUP BY wc.source ORDER BY wc.source""".stripMargin)
}
