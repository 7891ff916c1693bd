package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * operators.
  *
  * The Spark-side plumbing — schema, partitioning, typed mapPartitions
  * batch shape — is real and tested. The codec step itself is a STUB: this
  * container has no image/audio libraries, so `decode` derives a
  * deterministic fake "decoded" representation from the bytes (documented
  * on each method). Swapping in a real codec changes only the marked
  * function bodies, not the distributed shape.
  *
  * Scale notes: binary payloads ride in parquet row groups; all operators
  * are narrow per-partition maps (zero shuffle), so they scale with input
  * splits. Metadata-only queries (q40) never touch `content` thanks to
  * parquet column pruning.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("kind", StringType), // image | audio | video
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("n_frames", IntegerType))))))

  /** Deterministic synthetic media table derived from `documents`: content =
    * utf-8 bytes of text, kind by doc_id mod 3, metadata from content size.
    * (TESTDATA carries no real media; this provides a reproducible fixture
    * with the exact schema a real ingest would produce.) */
  def fromDocuments(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast(IntegerType)).as("kind"),
        encode(col("text"), "UTF-8").as("content"),
        struct(
          (pmod(col("n_chars"), lit(64)) + 16).cast(IntegerType).as("width"),
          (pmod(col("n_chars"), lit(48)) + 12).cast(IntegerType).as("height"),
          lit(16000).as("sample_rate"),
          (pmod(col("n_chars"), lit(30)) + 1).cast(IntegerType).as("n_frames"))
          .as("meta"))

  /** Metadata extraction — never reads `content` beyond length/hash;
    * demonstrates column pruning on binary tables. */
  def mediaMetadata(s: SparkSession, dir: String): DataFrame =
    fromDocuments(s, dir).select(
      col("media_id"), col("kind"),
      length(col("content")).cast(LongType).as("n_bytes"),
      md5(col("content")).as("content_md5"),
      col("meta.width").as("width"), col("meta.height").as("height"))
      .orderBy("media_id")

  final case class MediaRow(media_id: Long, kind: String, content: Array[Byte])
  final case class MediaFeatures(media_id: Long, kind: String,
                                 n_bytes: Long, features: Array[Float],
                                 top_bin: Int)

  /** Feature extraction over binary content via typed mapPartitions — the
    * batch shape a real decoder would use (iterate a partition, run the
    * codec per element, emit fixed-width features).
    *
    * STUB CODEC: features = 16-bin normalized byte histogram (deterministic,
    * real math on the raw bytes). A real implementation would replace
    * `byteHistogram` with pixel/spectrogram statistics post-decode. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "content").as[MediaRow]
      .mapPartitions { iter =>
        iter.map { m =>
          val counts = byteCounts(m.content)
          MediaFeatures(m.media_id, m.kind, m.content.length.toLong,
            normalize(counts, m.content.length), topBin(counts))
        }
      }
  }

  private[graft] def byteCounts(bytes: Array[Byte]): Array[Int] = {
    val counts = new Array[Int](16)
    var i = 0
    while (i < bytes.length) { counts((bytes(i) & 0xff) >> 4) += 1; i += 1 }
    counts
  }

  private def normalize(counts: Array[Int], len: Int): Array[Float] = {
    val hist = new Array[Float](16)
    if (len > 0) { var j = 0
      while (j < 16) { hist(j) = counts(j) / len.toFloat; j += 1 } }
    hist
  }

  /** Dominant high-nibble bin, ties toward the smaller bin — integer-exact,
    * the oracle-checkable projection of the stub features. */
  private[graft] def topBin(counts: Array[Int]): Int = {
    var best = 0; var j = 1
    while (j < 16) { if (counts(j) > counts(best)) best = j; j += 1 }
    best
  }

  private[graft] def byteHistogram(bytes: Array[Byte]): Array[Float] =
    normalize(byteCounts(bytes), bytes.length)

  /** "Resize" — STUB: truncates/pads the payload to the target byte budget
    * and rewrites metadata, preserving the narrow-map distributed shape of
    * a real resampler. */
  def resize(media: DataFrame, targetWidth: Int, targetHeight: Int): DataFrame = {
    val budget = targetWidth * targetHeight
    media
      .withColumn("content", substring(col("content"), 1, budget))
      .withColumn("meta", struct(
        lit(targetWidth).as("width"), lit(targetHeight).as("height"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.n_frames").as("n_frames")))
  }

  /** Frame sampling for `video` rows — STUB: treats each 256-byte block as a
    * "frame" and keeps every `stride`-th block (posexplode + filter, the
    * same plan real frame extraction would produce; one narrow explode). */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame = {
    val nBlocks = ceil(length(col("content")) / lit(256.0)).cast(IntegerType)
    media.filter(col("kind") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(nBlocks - 1, lit(0)), lit(stride))))
      .select(col("media_id"), col("frame_idx"),
        expr("substring(content, frame_idx * 256 + 1, 256)").as("frame_bytes"))
  }

  /** q70: frame sampling as a query — every `stride`-th 256-byte block of
    * each video payload, fingerprinted. The narrow posexplode shape real
    * frame extraction produces (one input row → n_frames output rows, no
    * shuffle before the presentation sort). Oracle-able because the stub
    * content is the documents' ASCII text: byte offsets == char offsets. */
  val FrameStride = 2 // q70 sampling step — interpolated into the oracle SQL

  def frameSampleQuery(s: SparkSession, dir: String,
                       stride: Int = FrameStride): DataFrame =
    sampleFrames(fromDocuments(s, dir), stride)
      .select(col("media_id"),
        col("frame_idx").cast(IntegerType).as("frame_idx"),
        md5(col("frame_bytes")).as("frame_md5"),
        length(col("frame_bytes")).cast(IntegerType).as("frame_len"))
      .orderBy("media_id", "frame_idx")

  /** Fixture re-key offset for injected duplicate/near-dup media — the
    * dedup family's high-bit convention (2^40): variant ids stay disjoint
    * from real media_ids at any scale factor, and the constant is
    * interpolated into the oracles so the two sides cannot drift. */
  val MediaVariantOffset: Long = 1L << 40

  /** Payload block size for [[mediaNearDup]]'s fingerprints. 64 bytes on
    * the fixture's short text payloads; real media would use 4–64 KiB. */
  val MediaBlockBytes: Int = 64

  /** media payloads ∪ exact copies of every 10th (id + offset) — the
    * dupCorpus convention applied to the binary column. */
  private def mediaDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val m = fromDocuments(s, dir).select("media_id", "content")
    m.unionByName(m.filter(col("media_id") % 10 === 0)
      .select((col("media_id") + MediaVariantOffset).as("media_id"),
        col("content")))
  }

  /** q161: EXACT MEDIA DEDUP — the q26 hash-groupBy shape applied to the
    * opaque binary payload column: md5 of the raw bytes is the content
    * key, canonical = min media_id per payload group. This is the first
    * pass of any multimodal corpus prep (identical re-crawled images /
    * re-encoded copies collapse before any decode cost is paid). One
    * hash-agg shuffle on a 128-bit key with map-side partial
    * aggregation — at 100 TB the cheapest possible exact dedup, and the
    * md5 is computed in the scan's projection so payload bytes never
    * shuffle (only the 16-byte digest and the id do). */
  def mediaDedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(mediaDupCorpus(s, dir), "media_id")
      .withColumn("h", md5(col("content")))
      .groupBy("h")
      .agg(min(col("media_id")).as("canonical_id"),
        count(lit(1)).cast(IntegerType).as("n_copies"))
      .select("canonical_id", "n_copies")
      .orderBy("canonical_id")

  /** media payloads ∪ header-rewritten variants of every 20th: the first
    * 16 bytes are overwritten (the re-encode/metadata-change analog —
    * same pixels, different header), id + offset. */
  private def mediaNearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val m = fromDocuments(s, dir).select("media_id", "content")
    m.unionByName(m.filter(col("media_id") % 20 === 0)
      .select((col("media_id") + MediaVariantOffset).as("media_id"),
        expr("concat(cast('ZZZZZZZZZZZZZZZZ' as binary), " +
          "substring(content, 17, length(content)))").as("content")))
  }

  /** q163: NEAR-DUP MEDIA via BLOCK FINGERPRINTS — the q28/q29 LSH shape
    * on bytes: each payload decomposes into fixed-size blocks, each
    * block's md5 is a fingerprint, payloads sharing a fingerprint become
    * candidate pairs, and block-set Jaccard ≥ 1/2 verifies (the storage
    * dedup / chunk-level similarity standard). The threshold compare is
    * ALL-INTEGER (2·shared ≥ union) and the output is integer counts, so
    * cross-engine parity is exact by construction.
    *
    * Why block fingerprints and not banded feature-histogram buckets for
    * the candidate stage: byte histograms of natural-content payloads
    * collapse into a handful of buckets (measured on this fixture: two
    * of four histogram bands put ALL 500 payloads in ONE bucket — 333k
    * candidate pairs from 500 docs, the quadratic blowup LSH exists to
    * avoid), while exact 64-byte blocks essentially never collide across
    * distinct media (measured max bucket size 3). Histogram features
    * remain available as q41's per-payload projection.
    *
    * Shape at 100 TB: block explode is a narrow map; ONE shuffle on the
    * block hash (16-byte keys, payload bytes never shuffle); bucket
    * sizes bounded by true duplication, so the intra-bucket pair
    * expansion is linear in near-dup volume; the size join is a second
    * small shuffle on media_id. The blocks frame feeds three consumers
    * (sizes + both join sides) — materialized once. */
  private[graft] def mediaNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val nBlocks = ceil(length(col("content")) / lit(MediaBlockBytes.toDouble))
      .cast(IntegerType)
    val blocks = Tables.fanOut(mediaNearDupCorpus(s, dir), "media_id")
      .withColumn("bi",
        explode(sequence(lit(0), greatest(nBlocks - 1, lit(0)), lit(1))))
      .select(col("media_id"),
        md5(expr(s"substring(content, bi * $MediaBlockBytes + 1, " +
          s"$MediaBlockBytes)")).as("bh"))
      .distinct()
      .localCheckpoint()
    val sizes = blocks.groupBy("media_id").agg(count(lit(1)).as("nb"))
    val inter = blocks.select(col("media_id").as("media_a"), col("bh"))
      .join(blocks.select(col("media_id").as("media_b"), col("bh")), Seq("bh"))
      .filter(col("media_a") < col("media_b"))
      .groupBy("media_a", "media_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("media_id").as("media_a"), col("nb").as("na")),
        Seq("media_a"))
      .join(sizes.select(col("media_id").as("media_b"), col("nb").as("nb")),
        Seq("media_b"))
      .withColumn("n_union", col("na") + col("nb") - col("n_shared"))
      .filter(col("n_shared") * 2 >= col("n_union"))
      .select(col("media_a"), col("media_b"),
        col("n_shared").cast(IntegerType).as("n_shared"),
        col("n_union").cast(IntegerType).as("n_union"))
  }

  def mediaNearDup(s: SparkSession, dir: String): DataFrame =
    mediaNearDupPairs(s, dir).orderBy("media_a", "media_b")

  /** The fixture kind rule of [[fromDocuments]] applied to a possibly
    * re-keyed media id (variants inherit their BASE's kind). */
  private def kindOf(id: Column): Column =
    element_at(array(lit("image"), lit("audio"), lit("video")),
      ((id % MediaVariantOffset) % 3 + 1).cast(IntegerType))

  /** q168: MEDIA DEDUP OUTPUT step — q72's canonical selection applied to
    * the media modality: connected components over the block-fingerprint
    * near-dup pairs (the shared [[graft.dedup.Dedup.components]] BSP
    * loop), keep the min-id payload per component, and summarize
    * survivors per media kind — the "emit the cleaned media corpus"
    * accounting. Same scale shape as q72: components run on post-verify
    * pairs (tiny), the singleton majority joins back without entering
    * the loop, and the summary is one low-cardinality hash-agg. */
  def mediaKeepSummary(s: SparkSession, dir: String): DataFrame = {
    val pairs = mediaNearDupPairs(s, dir)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    val comp = graft.dedup.Dedup.components(pairs)
      .withColumnsRenamed(Map("doc_id" -> "eid", "comp" -> "ecomp"))
    mediaNearDupCorpus(s, dir).select("media_id")
      .join(comp, col("media_id") === col("eid"), "left")
      .select(col("media_id"),
        coalesce(col("ecomp"), col("media_id")).as("comp"))
      .withColumn("kind", kindOf(col("media_id")))
      .withColumn("kept", (col("media_id") === col("comp")).cast(IntegerType))
      .groupBy("kind")
      .agg(count(lit(1)).cast(IntegerType).as("n_media"),
        sum("kept").cast(IntegerType).as("n_kept"))
      .withColumn("n_dropped",
        (col("n_media") - col("n_kept")).cast(IntegerType))
      .orderBy("kind")
  }

  /** The q163 CTE chain (near-dup corpus → distinct blocks → sizes →
    * thresholded pairs `mp`) — shared with the q168 components oracle.
    *
    * PARITY PRECONDITION: the Spark side slices the BINARY payload by
    * BYTES (correct for real media); this DuckDB version has no
    * md5(BLOB)/substring(BLOB), so the oracle slices the source VARCHAR
    * by CHARACTERS. The two agree exactly when chars == bytes, i.e. the
    * fixture text is pure ASCII — the same precondition q40/q41/q70
    * document, now ENFORCED by MultimodalSpec's ascii-invariant test so
    * a regenerated non-ASCII fixture fails loudly instead of silently
    * hash-diverging. */
  private val mediaPairCtesS: String =
    s"""m AS (SELECT doc_id AS media_id, text FROM documents
       |  UNION ALL SELECT doc_id + $MediaVariantOffset,
       |    repeat('Z', 16) || substr(text, 17)
       |  FROM documents WHERE doc_id % 20 = 0),
       |bl AS (SELECT DISTINCT media_id,
       |    md5(substr(text, CAST(bi * $MediaBlockBytes + 1 AS INTEGER),
       |      $MediaBlockBytes)) AS bh
       |  FROM (SELECT media_id, text,
       |      unnest(range(0, greatest(
       |        CAST(ceil(length(text) / $MediaBlockBytes.0) AS BIGINT), 1)))
       |        AS bi
       |    FROM m)),
       |sz AS (SELECT media_id, COUNT(*) AS nb FROM bl GROUP BY 1),
       |p AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
       |    COUNT(*) AS n_shared
       |  FROM bl a JOIN bl b ON a.bh = b.bh AND a.media_id < b.media_id
       |  GROUP BY 1, 2),
       |mp AS (SELECT media_a, media_b, CAST(n_shared AS INTEGER) AS n_shared,
       |    CAST(sa.nb + sb.nb - n_shared AS INTEGER) AS n_union
       |  FROM p JOIN sz sa ON media_a = sa.media_id
       |    JOIN sz sb ON media_b = sb.media_id
       |  WHERE 2 * n_shared >= sa.nb + sb.nb - n_shared)""".stripMargin

  /** q405: BINARY-FILE INGESTION — `spark.read.format("binaryFile")`,
    * the standard entry point of a multimodal pipeline (a directory of
    * image/audio blobs on object storage becomes (path, length, content)
    * rows; at 100 TB this is THE first scan, with file-status pruning on
    * path/length/modificationTime before any byte is read). The query
    * round-trips a bounded media sample through real files: an
    * executor-side foreachPartition exports each blob as `<id>.bin`
    * (the distributed blob-store write, never a driver loop), binaryFile
    * reads the directory back with a `*.bin` glob, and the result is
    * (media_id parsed from the path, byte length, content md5) — the
    * oracle computes the same digests from the original documents rows,
    * so hash-equality proves the file sink + binaryFile source pair is
    * byte-lossless. Staging is cleaned up after materialization. */
  def binaryFileSource(s: SparkSession, dir: String): DataFrame = {
    Tables.scratchQuery("q405") { tmp =>
      val base = tmp.toString
      fromDocuments(s, dir).filter(col("media_id") % 37 === 0)
        .select(col("media_id"), col("content"))
        .foreachPartition { it: java.util.Iterator[org.apache.spark.sql.Row] =>
          while (it.hasNext) {
            val r = it.next()
            java.nio.file.Files.write(
              java.nio.file.Paths.get(base, s"${r.getLong(0)}.bin"),
              r.getAs[Array[Byte]](1))
          }
        }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(base)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
            .cast(LongType).as("media_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("media_id")
    }
  }

  /** q40 oracle: metadata extraction is SQL-expressible (md5 of utf-8 text
    * bytes = md5 of the blob). */
  def oracleSql: Map[String, String] = Map(
    // q405: digests of the original rows; octet_length(encode(text)) =
    // the UTF-8 byte count binaryFile reports as `length`
    "q405_binaryfile_source" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id % 37 = 0
        |ORDER BY media_id""".stripMargin,
    "q161_media_dedup_exact" ->
      s"""WITH m AS (SELECT doc_id AS media_id, text FROM documents
         |  UNION ALL SELECT doc_id + $MediaVariantOffset, text
         |  FROM documents WHERE doc_id % 10 = 0)
         |SELECT min(media_id) AS canonical_id,
         |  CAST(count(*) AS INTEGER) AS n_copies
         |FROM (SELECT media_id, md5(text) AS h FROM m)
         |GROUP BY h ORDER BY canonical_id""".stripMargin,
    "q163_media_neardup" ->
      s"""WITH $mediaPairCtesS
         |SELECT media_a, media_b, n_shared, n_union FROM mp
         |ORDER BY media_a, media_b""".stripMargin,
    "q168_media_keep" ->
      s"""WITH RECURSIVE $mediaPairCtesS,
         |edges AS (SELECT media_a AS src, media_b AS dst FROM mp
         |  UNION ALL SELECT media_b, media_a FROM mp),
         |reach(id, r) AS (
         |  SELECT media_id, media_id FROM m
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
         |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
         |SELECT CASE CAST(id % $MediaVariantOffset % 3 AS INTEGER)
         |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  CAST(COUNT(*) AS INTEGER) AS n_media,
         |  CAST(SUM(CASE WHEN id = comp THEN 1 ELSE 0 END) AS INTEGER)
         |    AS n_kept,
         |  CAST(COUNT(*) - SUM(CASE WHEN id = comp THEN 1 ELSE 0 END)
         |    AS INTEGER) AS n_dropped
         |FROM comp GROUP BY kind ORDER BY kind""".stripMargin,
    "q70_frame_sample" ->
      s"""WITH v AS (SELECT doc_id AS media_id, text FROM documents
        |    WHERE doc_id % 3 = 2),
        |f AS (SELECT media_id, text,
        |    unnest(range(0, greatest(CAST(ceil(length(text) / 256.0) AS BIGINT), 1),
        |      $FrameStride)) AS frame_idx
        |  FROM v)
        |SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  md5(substr(text, CAST(frame_idx * 256 + 1 AS INTEGER), 256)) AS frame_md5,
        |  CAST(length(substr(text, CAST(frame_idx * 256 + 1 AS INTEGER), 256))
        |    AS INTEGER) AS frame_len
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    // q41: the stub features' integer projection (dominant high-nibble bin)
    // is SQL-expressible because documents are printable ASCII: per-char
    // code >> 4 == per-utf8-byte nibble.
    "q41_media_features" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, length(text)),
        |    i -> ascii(substr(text, CAST(i AS INTEGER), 1)) >> 4)) AS bin
        |  FROM documents),
        |counts AS (SELECT doc_id, bin, count(*) AS cnt FROM chars GROUP BY 1, 2),
        |top AS (SELECT doc_id, bin,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bin) AS rn
        |  FROM counts)
        |SELECT d.doc_id AS media_id,
        |  CASE CAST(d.doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(CAST(d.text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(COALESCE(t.bin, 0) AS INTEGER) AS top_bin
        |FROM documents d LEFT JOIN top t ON d.doc_id = t.doc_id AND t.rn = 1
        |ORDER BY media_id""".stripMargin,
    "q40_media_metadata" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST(n_chars % 64 + 16 AS INTEGER) AS width,
        |  CAST(n_chars % 48 + 12 AS INTEGER) AS height
        |FROM documents ORDER BY media_id""".stripMargin,
  )
}
