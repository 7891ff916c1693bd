package graft.sources.fixedwidth

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** q334: CUSTOM DataSource V2 CONNECTOR — a FIXED-WIDTH text source,
  * the mainframe/ERP export format Spark has no native reader for, and
  * the proof that this engine's source surface (SURVEY §2.1) is
  * EXTENSIBLE the way the reference's is not: `spark.read.format(...)`
  * onto any bytes for which a column-slice spec exists.
  *
  * Spec option: `spec=name:start:len:type,...` (0-based byte offsets;
  * types long | double | string). The connector implements the full
  * DSv2 read contract:
  *
  *  - `SupportsPushDownRequiredColumns` — the reader SLICES ONLY THE
  *    REQUESTED columns out of each line: for a 2-column projection of
  *    a 40-column export, per-row work drops 20×. This is the scan-side
  *    pruning parquet gets from column chunks, recovered for a
  *    row-oriented format at parse time.
  *  - `SupportsPushDownFilters` — =, <, <=, >, >= on long columns
  *    evaluate DURING the parse, before row materialization; pushed
  *    filters are reported back to the plan (visible in explain), and
  *    Spark drops its redundant post-filter for what the source accepts.
  *  - One `InputPartition` per file via the Hadoop FileSystem API (so
  *    the same connector reads HDFS/S3 paths on a real cluster) — the
  *    natural parallelism of fixed-width exports, which arrive as many
  *    medium files.
  *
  * The q334 query stages lineitem as fixed-width files, reads them back
  * through this connector with a projection + pushed range filter, and
  * hash-matches the DuckDB aggregate over the ORIGINAL table — the
  * round-trip certificate that parsing, pruning, and pushdown lose
  * nothing. */
class FixedWidthSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FixedWidthSource.schemaOf(FixedWidthSource.parseSpec(
      options.get("spec")))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val spec = FixedWidthSource.parseSpec(properties.get("spec"))
    // the layout is authoritative: a caller-supplied schema
    // (read/readStream .schema(...), or the frame being written) that
    // disagrees with the spec would previously be SILENTLY discarded —
    // reject it loudly instead. Nullability is ignored: a writer's
    // frame legitimately carries tighter nullable flags.
    val expect = FixedWidthSource.schemaOf(spec)
    def shape(st: StructType) = st.fields.map(f => (f.name, f.dataType)).toSeq
    if (schema != null && shape(schema) != shape(expect)) {
      throw new IllegalArgumentException(
        s"fixedwidth: user-supplied schema ${schema.simpleString} does not " +
          s"match the spec-derived schema ${expect.simpleString} — the " +
          "column layout comes from the 'spec' option; drop .schema(...) " +
          "or make them equal (project after the scan instead)")
    }
    new FwTable(spec, properties.get("path"))
  }
  override def supportsExternalMetadata(): Boolean = true
}

object FixedWidthSource {
  /** one column slice of the fixed-width layout. */
  final case class FwField(name: String, start: Int, len: Int,
                           dataType: DataType) extends Serializable

  def parseSpec(spec: String): Seq[FwField] = {
    require(spec != null && spec.nonEmpty, "fixedwidth requires a 'spec'")
    spec.split(",").toSeq.map { part =>
      val Array(n, st, ln, ty) = part.trim.split(":")
      val dt = ty match {
        case "long" => LongType
        case "double" => DoubleType
        case "string" => StringType
        case other => throw new IllegalArgumentException(
          s"unsupported fixedwidth type: $other")
      }
      FwField(n, st.toInt, ln.toInt, dt)
    }
  }
  def schemaOf(fields: Seq[FwField]): StructType =
    StructType(fields.map(f => StructField(f.name, f.dataType)))
}

class FwTable(spec: Seq[FixedWidthSource.FwField], path: String)
  extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(path != null && path.nonEmpty, "fixedwidth requires a 'path'")
  override def name(): String = s"fixedwidth($path)"
  override def schema(): StructType = FixedWidthSource.schemaOf(spec)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FwScanBuilder(spec, path)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new FwWriteBuilder(spec, path, info.schema())
}

class FwScanBuilder(spec: Seq[FixedWidthSource.FwField], path: String)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: Seq[FixedWidthSource.FwField] = spec
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve the REQUESTED order: Spark expects rows in requiredSchema
    // field order, not layout order
    required = requiredSchema.fieldNames.toSeq
      .flatMap(n => spec.find(_.name == n))
  }

  /** accept comparison filters on long columns; everything else stays
    * with Spark (returned as post-scan residual). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def longCol(n: String): Boolean =
      spec.exists(f => f.name == n && f.dataType == LongType)
    def ok(f: Filter): Boolean = f match {
      case EqualTo(a, _: java.lang.Long) => longCol(a)
      case GreaterThan(a, _: java.lang.Long) => longCol(a)
      case GreaterThanOrEqual(a, _: java.lang.Long) => longCol(a)
      case LessThan(a, _: java.lang.Long) => longCol(a)
      case LessThanOrEqual(a, _: java.lang.Long) => longCol(a)
      case _ => false
    }
    pushed = filters.filter(ok)
    filters.filterNot(ok) // residual for Spark
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new FwScan(spec, required, pushed, path,
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
}

class FwScan(spec: Seq[FixedWidthSource.FwField],
             required: Seq[FixedWidthSource.FwField],
             pushed: Array[Filter], path: String,
             hconf: org.apache.spark.util.SerializableConfiguration)
  extends Scan with Batch {
  override def readSchema(): StructType = FixedWidthSource.schemaOf(required)
  override def toBatch: Batch = this
  override def description(): String =
    s"fixedwidth path=$path pushed=[${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new org.apache.hadoop.fs.Path(path)
    // the SESSION Hadoop conf (spark.hadoop.* — S3 credentials,
    // endpoints), not a default Configuration that would ignore them
    val fs = p.getFileSystem(hconf.value)
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map(st => FwPartition(st.getPath.toString): InputPartition)
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new FwReaderFactory(spec, required, pushed, hconf)

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FwMicroBatchStream(spec, required, pushed, path, hconf)
}

/** STREAMING offsets for the fixed-width source: the sorted file list
  * is the log, the offset is how many of it has been admitted PLUS the
  * name of the last admitted file. The append-only contract (new files
  * sort after admitted ones, files are immutable once visible) is the
  * same one every file-drop ingestion holds; under it, a checkpointed
  * restart resumes EXACTLY after the last committed file — proven by
  * q335's two-run parity harness. The `last` field makes a contract
  * VIOLATION loud instead of silent: if a file ever lands sorting
  * before already-committed ones (or a committed file is deleted), a
  * bare count would shift and re-read or skip files; replay now
  * verifies the sorted prefix still ends at `last` and fails the batch
  * otherwise. */
final case class FwOffset(n: Int, last: Option[String])
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val l = last.map(s =>
      s""","last":"${FwOffset.esc(s)}"""").getOrElse("")
    s"""{"files":$n$l}"""
  }
}

object FwOffset {
  private[fixedwidth] def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def unesc(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")
  /** offset at position n of the CURRENT sorted listing. */
  def of(files: Seq[String], n: Int): FwOffset =
    FwOffset(n, if (n > 0) Some(files(n - 1)) else None)
  private val FilesRe = """"files"\s*:\s*(\d+)""".r.unanchored
  private val LastRe = """"last"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.unanchored
  def parse(json: String): FwOffset = {
    val n = json match {
      case FilesRe(d) => d.toInt
      case _ => throw new IllegalArgumentException(
        s"fixedwidth: unreadable offset json: $json")
    }
    val last = json match {
      case LastRe(s) => Some(unesc(s))
      case _ => None // pre-`last` checkpoint — count-only (weaker) check
    }
    FwOffset(n, last)
  }
}

class FwMicroBatchStream(spec: Seq[FixedWidthSource.FwField],
                         required: Seq[FixedWidthSource.FwField],
                         pushed: Array[Filter], path: String,
                         hconf: org.apache.spark.util.SerializableConfiguration)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit}

  private def listFiles(): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf.value)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
  }

  // AvailableNow: pin the target at prepare time so the run drains to a
  // FIXED horizon and terminates even if files keep landing
  private var availableTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(listFiles().length)

  override def initialOffset(): SOffset = FwOffset(0, None)
  override def deserializeOffset(json: String): SOffset =
    FwOffset.parse(json)
  override def latestOffset(): SOffset = {
    val files = listFiles()
    FwOffset.of(files, availableTarget.fold(files.length)(
      math.min(_, files.length)))
  }
  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset =
    latestOffset()
  override def reportLatestOffset(): SOffset = {
    val files = listFiles(); FwOffset.of(files, files.length)
  }
  override def commit(end: SOffset): Unit = () // files are immutable
  override def stop(): Unit = ()

  /** fail-loud append-only enforcement: the sorted prefix up to an
    * offset's count must still END at the filename the offset recorded
    * when it was admitted. */
  private def checkAnchor(files: Seq[String], o: FwOffset): Unit =
    o.last.foreach { name =>
      // a count of 0 with a non-empty `last` is internally inconsistent
      // (FwOffset.of never emits it) — a corrupt/hand-edited checkpoint;
      // fail with the contract message, not an IndexOutOfBoundsException
      if (o.n < 1 || o.n > files.length || files(o.n - 1) != name) {
        val got = if (o.n >= 1 && o.n <= files.length) files(o.n - 1)
                  else "<missing>"
        throw new IllegalStateException(
          s"fixedwidth: append-only contract violated at $path — offset " +
            s"${o.json()} expects sorted file #${o.n} to be '$name' but " +
            s"the listing now has '$got'. A file was deleted or landed " +
            "sorting before committed ones; refusing to replay (rows " +
            "would silently duplicate or vanish).")
      }
    }

  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] = {
    val (a, b) = (start.asInstanceOf[FwOffset], end.asInstanceOf[FwOffset])
    val files = listFiles()
    checkAnchor(files, a)
    checkAnchor(files, b)
    files.slice(a.n, b.n).map(f => FwPartition(f): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new FwReaderFactory(spec, required, pushed, hconf)
}

final case class FwPartition(file: String) extends InputPartition

class FwReaderFactory(spec: Seq[FixedWidthSource.FwField],
                      required: Seq[FixedWidthSource.FwField],
                      pushed: Array[Filter],
                      hconf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FwReader(partition.asInstanceOf[FwPartition].file, spec, required,
      pushed, hconf)
}

class FwReader(file: String, spec: Seq[FixedWidthSource.FwField],
               required: Seq[FixedWidthSource.FwField], pushed: Array[Filter],
               hconf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReader[InternalRow] {
  private val fsPath = new org.apache.hadoop.fs.Path(file)
  private val in = fsPath.getFileSystem(hconf.value).open(fsPath)
  private val reader = new java.io.BufferedReader(
    new java.io.InputStreamReader(in, "UTF-8"))
  private var row: InternalRow = _

  // pushed filters compile ONCE to (slice offsets, predicate) pairs —
  // evaluated on the raw line before any row materialization
  private val preds: Array[String => Boolean] = pushed.map { f =>
    def sliceOf(n: String) = spec.find(_.name == n).get
    def longAt(fld: FixedWidthSource.FwField)(line: String): Long =
      line.substring(fld.start, fld.start + fld.len).trim.toLong
    f match {
      case EqualTo(a, v: java.lang.Long) =>
        val g = longAt(sliceOf(a)) _; l => g(l) == v.longValue()
      case GreaterThan(a, v: java.lang.Long) =>
        val g = longAt(sliceOf(a)) _; l => g(l) > v.longValue()
      case GreaterThanOrEqual(a, v: java.lang.Long) =>
        val g = longAt(sliceOf(a)) _; l => g(l) >= v.longValue()
      case LessThan(a, v: java.lang.Long) =>
        val g = longAt(sliceOf(a)) _; l => g(l) < v.longValue()
      case LessThanOrEqual(a, v: java.lang.Long) =>
        val g = longAt(sliceOf(a)) _; l => g(l) <= v.longValue()
      case other => throw new IllegalStateException(s"unpushable: $other")
    }
  }

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null && !preds.forall(_(line))) line = reader.readLine()
    if (line == null) { row = null; false }
    else {
      // parse ONLY the required slices — the column-pruning payoff
      val vals: Array[Any] = required.map { f =>
        val s = line.substring(f.start, f.start + f.len).trim
        f.dataType match {
          case LongType => s.toLong
          case DoubleType => s.toDouble
          case StringType => UTF8String.fromString(s)
        }
      }.toArray
      row = InternalRow.fromSeq(vals.toIndexedSeq)
      true
    }
  }
  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}

// ───────────────────────────── WRITE PATH ─────────────────────────────

/** q339: the WRITE half of the connector — `SupportsWrite` with
  * truncate + append, per-task temp files, and rename-on-job-commit,
  * closing the DSv2 lifecycle the read half opened (q334/q335 proved
  * custom *sources*; this proves custom *sinks* — the real user shape
  * is exporting back to the mainframe format they ingested from).
  *
  * Exactly-once protocol (the same staged-visibility discipline as
  * `Tables.parquetCompacted`'s manifest and ScaleRamp's staging dir):
  *
  *  - each task attempt writes to a DOT-PREFIXED temp file (readers
  *    skip `.`/`_` names by contract), so uncommitted or speculative
  *    output is never visible;
  *  - task commit returns the (temp, final) pair as its
  *    `WriterCommitMessage`; task abort deletes its temp;
  *  - job commit renames exactly the committed messages' temps to
  *    visible `part-*.fw` names (UUID-suffixed — retried jobs cannot
  *    collide), deleting previous visible files first under truncate;
  *  - job abort deletes every staged temp.
  *
  * Spark's commit coordinator (on by default for DSv2) guarantees one
  * committed attempt per task, so the rename set IS the exact output.
  *
  * Value formatting fails LOUDLY on anything the format cannot
  * represent — nulls, values wider than their slice, strings with
  * leading/trailing whitespace or line breaks — rather than writing
  * bytes that would silently parse back different. */
class FwWriteBuilder(spec: Seq[FixedWidthSource.FwField], path: String,
                     schema: StructType)
  extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write = {
    val expect = FixedWidthSource.schemaOf(spec)
    require(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      expect.fields.map(f => (f.name, f.dataType)).toSeq,
      s"fixedwidth write: frame schema ${schema.simpleString} must match " +
        s"the spec layout ${expect.simpleString} exactly (same columns, " +
        "same order) — reorder the projection to the spec order")
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    val trunc = doTruncate
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        new FwBatchWrite(spec, path, trunc, hconf)
      override def description(): String =
        s"fixedwidth path=$path truncate=$trunc"
    }
  }
}

final case class FwCommitMessage(tmp: String, finalName: String)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

class FwBatchWrite(spec: Seq[FixedWidthSource.FwField], path: String,
                   truncate: Boolean,
                   hconf: org.apache.spark.util.SerializableConfiguration)
  extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FwWriterFactory(spec, path, hconf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(hconf.value)
    // truncate ordering: snapshot the OLD visible files, make the NEW
    // files visible FIRST, delete the snapshot LAST. A crash mid-commit
    // then yields transient old+new duplication (re-runnable), never
    // the zero-data window a delete-then-rename order would open.
    // UUID-suffixed final names guarantee the two sets cannot collide.
    val previous: Array[org.apache.hadoop.fs.Path] =
      if (truncate && fs.exists(dir))
        fs.listStatus(dir).collect {
          case st if st.isFile && !st.getPath.getName.startsWith(".") &&
            !st.getPath.getName.startsWith("_") => st.getPath
        }
      else Array.empty
    // if a rename throws partway, roll back the new files made visible
    // so far before rethrowing: otherwise a failed truncate commit
    // leaves old files PLUS the renamed prefix both visible, and a
    // later reader silently sees duplicated rows until a rerun.
    val visible = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.Path]
    try {
      messages.foreach { case FwCommitMessage(tmp, finalName) =>
        val src = new org.apache.hadoop.fs.Path(tmp)
        val dst = new org.apache.hadoop.fs.Path(dir, finalName)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(
            s"fixedwidth write: commit rename failed: $src -> $dst")
        visible += dst
      }
    } catch {
      case e: Throwable =>
        visible.foreach { p =>
          try { fs.delete(p, false); () }
          catch { case _: java.io.IOException => () } // best-effort
        }
        throw e
    }
    previous.foreach(fs.delete(_, false))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf.value)
    messages.foreach {
      case FwCommitMessage(tmp, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(tmp), false); ()
      case _ => ()
    }
  }
}

class FwWriterFactory(spec: Seq[FixedWidthSource.FwField], path: String,
                      hconf: org.apache.spark.util.SerializableConfiguration)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new FwWriter(spec, path, partitionId, taskId, hconf)
}

class FwWriter(spec: Seq[FixedWidthSource.FwField], path: String,
               partitionId: Int, taskId: Long,
               hconf: org.apache.spark.util.SerializableConfiguration)
  extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val uuid = java.util.UUID.randomUUID().toString
  private val finalName = f"part-$partitionId%05d-$uuid.fw"
  // dot prefix = invisible to the read path until job commit renames it
  private val tmpPath = new org.apache.hadoop.fs.Path(
    path, s".tmp-$partitionId-$taskId-$uuid")
  private val fs = tmpPath.getFileSystem(hconf.value)
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(tmpPath, true), "UTF-8"))
  private val lineWidth = spec.map(f => f.start + f.len).max
  private val fields = spec.toArray

  override def write(row: InternalRow): Unit = {
    val line = new Array[Char](lineWidth)
    java.util.Arrays.fill(line, ' ')
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      if (row.isNullAt(i))
        throw new IllegalArgumentException(
          s"fixedwidth write: NULL in column '${f.name}' — fixed-width " +
            "has no null representation; filter or impute before writing")
      val s = f.dataType match {
        case LongType => row.getLong(i).toString
        case DoubleType => row.getDouble(i).toString
        case StringType => row.getUTF8String(i).toString
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      if (s.length > f.len)
        throw new IllegalArgumentException(
          s"fixedwidth write: value '$s' (${s.length} chars) exceeds " +
            s"column '${f.name}' width ${f.len} — widen the slice")
      if (s != s.trim || s.exists(c => c == '\n' || c == '\r'))
        throw new IllegalArgumentException(
          s"fixedwidth write: value '$s' in column '${f.name}' has " +
            "leading/trailing whitespace or line breaks — the format " +
            "cannot round-trip it (readers trim slices)")
      // numbers right-justified, strings left-justified (readers trim)
      val off = f.dataType match {
        case StringType => f.start
        case _ => f.start + f.len - s.length
      }
      var j = 0
      while (j < s.length) { line(off + j) = s.charAt(j); j += 1 }
      i += 1
    }
    out.write(line); out.write('\n')
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    out.close()
    FwCommitMessage(tmpPath.toString, finalName)
  }
  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    fs.delete(tmpPath, false); ()
  }
  override def close(): Unit = ()
}
