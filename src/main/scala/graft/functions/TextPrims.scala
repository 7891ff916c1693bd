package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared text/hash primitives for the LLM-data-pipeline operators (dedup,
  * fingerprinting, language-ID, token stats).
  *
  * Every primitive here exists in TWO parallel forms: a Spark `Column`
  * builder (codegen'd, no UDFs) and a DuckDB SQL fragment generator used by
  * the correctness oracle. Both derive from the same constants in this file,
  * and both are built ONLY from operations whose results are bit-identical
  * across engines:
  *
  *  - md5 hex strings (same everywhere) — MinHash uses the *lexicographic
  *    min* of seeded md5s, so no integer conversion is needed at all;
  *  - hex→int via explicit digit folding (no engine-specific `hash()`);
  *  - integer arithmetic (rolling hashes, simhash bit sums);
  *  - IEEE-754 double ops in a FIXED sequential fold order (dot products).
  *
  * This matters at 100 TB: a fingerprint/dedup key must not depend on
  * partitioning, engine version, or platform libm.
  */
object TextPrims {
  val HexDigits = "0123456789abcdef"

  // ---------------------------------------------------------------- tokens
  /** whitespace tokenization of trimmed, lower-cased text. */
  def tokensC(c: Column): Column = split(trim(lower(c)), "\\s+")
  def tokensS(e: String): String =
    s"regexp_split_to_array(trim(lower($e)), '\\s+')"

  /** word n-gram shingles over a token array; a document shorter than n
    * tokens contributes its whole text as a single shingle. */
  def shinglesC(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - lit(n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array(concat_ws(" ", t)))
  def shinglesS(t: String, n: Int): String =
    s"""CASE WHEN len($t) >= $n
       | THEN list_transform(generate_series(1, len($t) - ${n - 1}),
       |        i -> array_to_string(list_slice($t, i, i + ${n - 1}), ' '))
       | ELSE [array_to_string($t, ' ')] END""".stripMargin.replace("\n", " ")

  // --------------------------------------------------------------- hashing
  /** seeded content hash: md5 of "seed#value" (hex string). */
  def seededMd5C(seed: Int, c: Column): Column = md5(concat(lit(s"$seed#"), c))
  def seededMd5S(seed: Int, e: String): String = s"md5('$seed#' || $e)"

  /** First 8 hex chars of an md5 string folded to a non-negative Long in
    * [0, 2^32). Spark: conv(); DuckDB: explicit digit fold. */
  def hex32C(h: Column): Column =
    conv(substring(h, 1, 8), 16, 10).cast(LongType)
  def hex32S(h: String): String =
    s"""list_reduce(list_transform(generate_series(1, 8),
       |  i -> CAST(strpos('$HexDigits', substr($h, i, 1)) - 1 AS BIGINT)),
       |  (a, b) -> a * 16 + b)""".stripMargin.replace("\n", " ")

  /** First 15 hex chars → non-negative Long in [0, 2^60): a numeric hash
    * with the same ordering properties as the hex string but hash-aggregable
    * (MinHash min() stays in HashAggregate; 8-byte shuffle rows instead of
    * 32-char strings). */
  def hex60C(h: Column): Column =
    conv(substring(h, 1, 15), 16, 10).cast(LongType)
  def hex60S(h: String): String =
    s"""list_reduce(list_transform(generate_series(1, 15),
       |  i -> CAST(strpos('$HexDigits', substr($h, i, 1)) - 1 AS BIGINT)),
       |  (a, b) -> a * 16 + b)""".stripMargin.replace("\n", " ")

  // ------------------------------------------- k-permutation MinHash family
  /** One content hash + k cheap integer permutations — the production
    * MinHash shape (cf. Spark MinHashLSH's (a·h+b) mod p): hashing the
    * shingle string k times multiplies the hot stage's CPU by k for no
    * statistical gain. g_i(h) = ((h₀·Aᵢ + h₁·Bᵢ + Cᵢ) & M60) over the two
    * 30-bit halves of the 60-bit content hash. All intermediates stay under
    * 2^62, so the arithmetic is exact signed-64 in every engine — no
    * overflow, no modulo-semantics divergence. */
  val Mask30: Long = (1L << 30) - 1
  val Mask60: Long = (1L << 60) - 1
  def permConsts(i: Int): (Long, Long, Long) = (
    (javaMd5Hex32(s"permA#$i") & Mask30) | 1L,
    (javaMd5Hex32(s"permB#$i") & Mask30) | 1L,
    javaMd5Hex32(s"permC#$i"))
  def permC(h: Column, i: Int): Column = {
    val (a, b, c) = permConsts(i)
    (h.bitwiseAND(lit(Mask30)) * lit(a) + shiftright(h, 30) * lit(b) + lit(c))
      .bitwiseAND(lit(Mask60))
  }
  def permS(h: String, i: Int): String = {
    val (a, b, c) = permConsts(i)
    s"((($h & $Mask30) * $a + ($h >> 30) * $b + $c) & $Mask60)"
  }

  /** Deterministic pseudo-random double in [-1, 1) derived from a string
    * key — used for LSH hyperplanes; identical on driver (JVM), executors,
    * and in the oracle. */
  def unitFromKey(key: String): Double =
    (javaMd5Hex32(key).toDouble / 2147483648.0) - 1.0

  /** JVM-side md5-hex-prefix→long, matching hex32C/hex32S exactly. */
  def javaMd5Hex32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
  }

  /** JVM twin of [[hex60C]]/[[hex60S]]: the 60-bit md5 prefix — used by
    * stateful streaming processors (q260's HLL registers) so the
    * in-processor hash is bit-identical to the relational spelling. */
  def javaMd5Hex60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
  }

  // ------------------------------------------------------------ lang / stop
  /** Marker stopwords per language for the n-gram language-ID heuristic.
    * Order = tie-break priority. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "los", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "les", "et", "est", "une"))

  /** Stopword list for quality scoring (union of all markers). */
  val Stopwords: Seq[String] = LangMarkers.flatMap(_._2).distinct

  /** count of tokens belonging to a fixed word set. */
  def countInSetC(t: Column, set: Seq[String]): Column =
    size(filter(t, x => set.map(w => x === w).reduce(_ || _)))
  def countInSetS(t: String, set: Seq[String]): String =
    s"len(list_filter($t, x -> x IN (${set.map(w => s"'$w'").mkString(", ")})))"

  /** BPE-ish token pattern: letter runs, digit runs, single punctuation. */
  val BpeTokenRe = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** BPE-ish token count of a text column — the tokenizer-cost proxy every
    * budget/packing/sampling operator shares (one definition; the SQL twin
    * below keeps oracles from drifting). */
  def bpeTokensC(c: Column): Column =
    size(regexp_extract_all(lower(c), lit(BpeTokenRe), lit(0)))
  def bpeTokensS(e: String): String =
    s"len(regexp_extract_all(lower($e), '$BpeTokenRe'))"
}
