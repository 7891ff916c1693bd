package graft.sources

import graft.Query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, lit, struct}
import org.apache.spark.sql.types.StructType

/** Sources (SURVEY.md §2.1 S1,S2,S8,S12): parquet/CSV/JSON readers over the
  * driver's TESTDATA layout plus generic paths.
  *
  * Reference behavior: `spark.read...csv` with inferSchema
  * (data_cleaning.py:27-30); here we prefer explicit schemas (SURVEY §1.3 —
  * removes the extra inference pass over the file, which at 100 TB would be a
  * full second scan of the input). Parquet TESTDATA tables get the same: their
  * schema is inferred once per table version and parquet-read confs
  * ([[parquetSchema]]), and every [[load]] then reads with it, no inference
  * job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet scan (S2). Column pruning + predicate pushdown are free:
    * downstream select/filter reach the FileScan via Catalyst.
    *
    * Timestamp normalization — every downstream operator must see a plain
    * TimestampType (LTZ; sessions pin timeZone=UTC so values are the same
    * instants either way):
    *  - TIMESTAMP(NANOS) parquet is not a native Spark type: sessions set
    *    spark.sql.legacy.parquet.nanosAsLong=true (see [[sessionConfigs]])
    *    and the loader converts nanos → microsecond timestamps here.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet would infer as
    *    TIMESTAMP_NTZ under Spark 4's default; sessions disable that
    *    inference (see [[sessionConfigs]]), and the loader additionally
    *    casts any NTZ column that still slips through (a session built
    *    without [[sessionConfigs]]) — unix_micros, watermarks and
    *    stream-stream joins all require TimestampType.
    *
    * The scan reads with the table's schema from [[parquetSchema]], so
    * only the first load of a table version under given parquet-read
    * confs runs the inference job. The `events.ts` branches still see the
    * inferred physical type: the cached schema IS the inferred one. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(parquetSchema(spark, path)).parquet(path)
    if (name == "events" && df.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      df.withColumn("ts",
        org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else if (name == "events" && df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn("ts",
        df("ts").cast(org.apache.spark.sql.types.TimestampType))
    else df
  }

  /** What makes one inferred parquet schema reusable: the table path,
    * its leaf files' (name, length, mtime), and the session's parquet-read
    * confs that change inference (`spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*`; unset ones read as Spark's defaults). */
  private final case class SchemaKey(path: String,
                                     files: Seq[(String, Long, Long)],
                                     confs: Seq[(String, String)])

  /** Inferred schemas. The key holds everything inference depends on, so
    * an entry is valid for any session. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  /** The schema `spark.read.parquet(path)` infers, resolved once per
    * (path, leaf-file fingerprint, parquet-read confs): the reference
    * declares each table once in its catalog (create_tables.hql), and
    * every read here reuses the one inference job. Cannot serve a stale
    * schema: rewriting the table changes its leaf files' names, lengths
    * or mtimes, hence the key, and a session whose parquet confs differ
    * infers for itself. The fingerprint is a driver-side listing, no
    * job. Concurrent first loads (a [[wave]]) infer once:
    * `computeIfAbsent` runs the job for one caller while the others wait
    * for its result. */
  private[graft] def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") }.sorted
    schemas.computeIfAbsent(SchemaKey(path, files.sorted.toSeq, confs),
      _ => spark.read.parquet(path).schema)
  }

  /** Shuffle scratch directory: SPARK_GRAFT_LOCAL_DIR when set, else a
    * node-local tmpfs when one is writable, else the JVM tmpdir. Thread
    * dumps under the round-16 bench showed executor threads serialized
    * on shuffle-file open/commit (`FileOutputStream.open0`,
    * `IndexShuffleBlockResolver.writeMetadataFileAndCommit`) — the
    * sandbox root FS makes small-file creation the bottleneck, which is
    * exactly what a production cluster avoids by pointing local dirs at
    * fast scratch (NVMe/tmpfs). Parameterised, never hard-coded: ops
    * overrides win, and the fallback is the stock default. */
  private def fastScratchBase: Option[java.io.File] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) Some(shm) else None
  }

  private def scratchDir: String =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").getOrElse {
      fastScratchBase.map(new java.io.File(_, "graft-spark-local").getPath)
        .getOrElse(sys.props("java.io.tmpdir"))
    }

  /** Root of every per-query scratch dir: `graft-tmp` on the node-local
    * tmpfs when one is writable, else the JVM tmpdir. */
  private[graft] def scratchRoot: java.nio.file.Path =
    fastScratchBase match {
      case Some(base) => new java.io.File(base, "graft-tmp").toPath
      case None => java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    }

  /** Per-query scratch temp dir (staging copies, stream checkpoints,
    * sink round-trip outputs) under [[scratchRoot]]: the streaming
    * harnesses commit offset/state/commit logs as many small files per
    * micro-batch, and on a slow root FS those creates dominate harness
    * wall time. SPARK_GRAFT_LOCAL_DIR does not move these: it moves only
    * the shuffle dirs ([[scratchDir]]), so with it set, shuffle files
    * follow the variable while these dirs stay on `/dev/shm` whenever it
    * is writable (one scratch policy for both is ROADMAP item 3).
    * Made only by [[withScratch]], which deletes the dir on every
    * exit. */
  private def scratchTempDir(prefix: String): java.nio.file.Path = {
    val root = scratchRoot
    java.nio.file.Files.createDirectories(root)
    java.nio.file.Files.createTempDirectory(root, prefix)
  }

  /** Session configs every graft SparkSession needs. */
  val sessionConfigs: Map[String, String] = Map(
    // Round-16 pinned the sort-path writer (threshold 0) because the
    // bypass writer's R files per map task dominated wall time on the
    // slow root FS. Round-17's A/B (verdict item 5) shows that with
    // shuffle scratch on fast storage the pin is pure overhead on
    // tiny-R stages (q87 1.23→0.66 s, q206 2.75→1.57 s, q194
    // 1.96→1.67 s) and a wash on shuffle-heavy queries — so the
    // default reverts to Spark's stock 200 WHEN fast scratch is
    // available, and keeps the sort-path pin only on hosts where
    // small-file creation is the measured bottleneck. Production
    // clusters run R > 200 and take the sort path under either value.
    // SPARK_GRAFT_BYPASS_MERGE overrides both ways.
    "spark.shuffle.sort.bypassMergeThreshold" ->
      sys.env.getOrElse("SPARK_GRAFT_BYPASS_MERGE",
        if (fastScratchBase.isDefined) "200" else "0"),
    "spark.local.dir" -> scratchDir,
    // engine extensions: dot_product SQL function + HOF→DotProduct rule
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet (pyarrow's default
    // for naive timestamps) must read as TimestampType, not TIMESTAMP_NTZ:
    // unix_micros, withWatermark and stream-stream joins reject NTZ, and
    // with session timeZone=UTC the instants are identical.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // AQE re-renders the physical-plan DESCRIPTION string on every stage
    // update (even with the UI off, for listener events). Queries whose
    // expression trees embed large literal arrays (LSH hyperplanes: 8×64
    // doubles) make that rendering O(minutes) of driver CPU per query —
    // observed as a single pegged thread in generateTreeString. Capping
    // the plan string short-circuits the renderer; correctness and the
    // actual plans are unaffected.
    "spark.sql.maxPlanStringLength" -> "65536")

  /** Task slots for every graft session: SPARK_GRAFT_CPUS when set, else
    * every core of the host. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The one session policy of every graft entry point: `local[cpus]`,
    * one shuffle partition per slot, UI off, [[sessionConfigs]], WARN
    * logging. */
  def session(app: String, cpus: Int = Tables.cpus): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
    sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with each of `confs` set on the session; on every exit
    * restores each key's prior value, or unsets it if it had none. */
  def withConfs[T](s: SparkSession, confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  /** Runs `body` on a fresh scratch dir `graft-<label>…` under
    * [[scratchRoot]] and deletes the dir on every exit. Whatever `body`
    * returns must not read the dir lazily: see [[scratchQuery]]. */
  def withScratch[T](label: String)(body: java.nio.file.Path => T): T = {
    val dir = scratchTempDir(s"graft-$label")
    try body(dir) finally rmTree(dir)
  }

  /** [[withScratch]] for a query that writes into its dir and reads the
    * data back: the result is materialized (localCheckpoint) before the
    * dir is deleted. */
  def scratchQuery(label: String)(body: java.nio.file.Path => DataFrame): DataFrame =
    withScratch(label)(dir => body(dir).localCheckpoint())

  /** Runs independent thunks as one concurrent wave of driver threads,
    * one per thunk: Spark schedules concurrent jobs FIFO and back-fills
    * freed slots, so N small jobs cost about the slowest one instead of
    * their sum. Results come back in input order; a thunk's failure, or
    * 10 min without completion, fails the wave, and the pool is shut
    * down on every exit. */
  def wave[T](work: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try Await.result(
      Future.sequence(work.map(w => Future(w()))), Duration(10, "min"))
    finally { pool.shutdownNow(); () }
  }

  /** Fan a small/single-split input out to cluster parallelism before a
    * compute-dense narrow stage (shingling, hashing, vector math).
    *
    * A single-row-group parquet file scans as ONE non-empty task, so every
    * narrow operator chained on it runs single-threaded no matter how many
    * cores the cluster has — the per-doc compute, not the I/O, becomes the
    * bottleneck. At 100 TB inputs arrive in thousands of splits and this is
    * a no-op (guarded on the actual partition count — never an extra shuffle
    * on data that is already wide); on a dim-table-sized input the few-MB
    * hash exchange buys a `target`-way hot stage. */
  def fanOut(df: DataFrame, keyCol: String, target: Int = 0): DataFrame = {
    val t = if (target > 0) target
            else df.sparkSession.sparkContext.defaultParallelism
    if (estimatedLeafSplits(df) >= t) df
    else df.repartition(t, org.apache.spark.sql.functions.col(keyCol))
  }

  /** Plan-time estimate of the scan's split count — Spark's own
    * `FilePartition.maxSplitBytes` arithmetic (total bytes + per-file
    * open cost, capped by maxPartitionBytes, floored by openCost,
    * spread over default parallelism) applied to the leaf file indexes,
    * so the fanOut guard no longer pays a full physical planning + RDD
    * instantiation per call site (round-17 verdict item 7). The guard
    * only needs the right side of ">= target": production-scale inputs
    * estimate thousands of splits (no-op branch), single-small-file
    * fixtures estimate 1. Plans with any non-file leaf (local
    * relations, checkpoints, in-memory) keep the exact RDD probe. */
  private def estimatedLeafSplits(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val s = df.sparkSession
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val rels = leaves.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }
    if (rels.isEmpty || rels.length != leaves.length)
      df.rdd.getNumPartitions
    else {
      def bytesConf(key: String, dflt: Long): Long =
        try org.apache.spark.network.util.JavaUtils
          .byteStringAsBytes(s.conf.get(key, dflt.toString))
        catch { case _: Throwable => dflt }
      val maxPart = bytesConf("spark.sql.files.maxPartitionBytes", 128L << 20)
      val openCost = bytesConf("spark.sql.files.openCostInBytes", 4L << 20)
      val par = math.max(1, s.sparkContext.defaultParallelism)
      val est = rels.map { r =>
        val nFiles = math.max(1L, r.location.inputFiles.length.toLong)
        val padded = math.max(0L, r.location.sizeInBytes) + nFiles * openCost
        val maxSplit =
          math.min(maxPart, math.max(openCost, padded / par)) max 1L
        math.max(1L, (padded + maxSplit - 1) / maxSplit)
      }.sum
      math.min(est, Int.MaxValue.toLong).toInt
    }
  }

  /** CSV scan with explicit schema (S1) — one pass, no inference job. */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).schema(schema).csv(path)

  /** JSON-lines scan (counterpart of sink S4). */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Register all TESTDATA tables as temp views so spark.sql works
    * (SURVEY §3 "SQL entry": mirrors the Hive catalog role of
    * create_tables.hql without a metastore). Eager and cheap: with each
    * table's schema resolved ([[parquetSchema]]), a view costs no job. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Recursive local-dir delete — THE tree-delete helper ([[withScratch]]
    * and the durable outputs that outlive a query); closes the walk
    * stream. */
  private[graft] def rmTree(root: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().forEachRemaining(p => {
        java.nio.file.Files.deleteIfExists(p); () })
    finally walk.close()
  }
}

/** Sinks (SURVEY §2.1 S3-S7). MongoDB (S7) is modeled as a pluggable trait
  * with a JSON-file default so the engine builds offline (SURVEY §7.4 risk 6).
  */
object Sinks {
  /** Parquet sink, overwrite + snappy (S3; data_cleaning.py:133). */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Partitioned parquet sink — the SURVEY §4 engine improvement over the
    * reference's unpartitioned write (data_cleaning.py:133 emits one flat
    * directory; every downstream job rescans all of it). Hive-style
    * `col=value` directories let any filter on the partition columns prune
    * at planning time: at 100 TB, a State/Month-partitioned layout turns a
    * one-state query from a full scan into ~1/50th of the input
    * (PartitionFilters in the FileScan — proven in SinksCatalogSpec).
    *
    * `dynamicOverwrite=true` scopes overwrite to the partitions present in
    * `df` (the warehouse backfill pattern) via the per-write option, leaving
    * sibling partitions intact and the session conf untouched. */
  def parquetPartitioned(df: DataFrame, path: String, cols: Seq[String],
                         dynamicOverwrite: Boolean = false): Unit = {
    require(cols.nonEmpty, "parquetPartitioned needs >=1 partition column")
    val w = df.write.mode("overwrite").partitionBy(cols: _*)
    (if (dynamicOverwrite) w.option("partitionOverwriteMode", "dynamic")
     else w).parquet(path)
  }

  /** Range-CLUSTERED parquet layout — the second storage lever after
    * [[parquetPartitioned]], for high-cardinality keys where Hive
    * partitioning would explode the directory count. `repartitionByRange`
    * gives each output file a disjoint slice of the cluster-key space
    * (range partitioner, sampled boundaries) and `sortWithinPartitions`
    * orders rows inside each file, so every parquet row group's min/max
    * footer stats span a narrow key range. Readers filtering on the
    * cluster key then skip whole row groups at scan time (parquet
    * predicate pushdown against the stats), the non-partition analog of
    * partition pruning: at 100 TB, a point/range query on the cluster key
    * reads the few files whose range matches instead of every row group
    * of every file. One range shuffle at write time buys every later
    * scan's skipping. */
  def parquetClustered(df: DataFrame, path: String, clusterCols: Seq[String],
                       numFiles: Int): Unit = {
    require(clusterCols.nonEmpty, "parquetClustered needs >=1 cluster column")
    val cs = clusterCols.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(numFiles, cs: _*)
      .sortWithinPartitions(cs: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file COMPACTION — the fourth storage lever (q105 = partition
    * pruning, q106 = range clustering, q110 = bucketing, this = layout
    * hygiene): bin-pack a fragmented directory into ~`targetBytes` files.
    * Streaming sinks, per-partition overwrites and high-parallelism jobs
    * all shed small files; at 100 TB the cost is operational, not
    * computational — NameNode/object-listing pressure, a scan task per
    * tiny file, row groups too small for effective stats — and every
    * table format (Hive, Iceberg, Delta) ships this exact rewrite as its
    * maintenance job.
    *
    * The output file count is COMPUTED from the actual on-disk bytes
    * (`ceil(bytes / targetBytes)`, floor 1), so the rewrite lands on the
    * target size regardless of input fragmentation. The rewrite is
    * `repartitionByRange` + in-file sort on `sortCols` — compaction and
    * [[parquetClustered]]'s row-group-skipping layout in the same single
    * shuffle (a plain `coalesce` would be cheaper but forfeits both the
    * clustering and the even output sizing its lazy partition merge
    * gives up). Returns the computed file count so callers (and the
    * SinksCatalogSpec guard) can assert the layout contract. `schema` is
    * the writer's schema of `inDir`, so the read infers nothing. */
  def compactParquet(s: SparkSession, inDir: String, schema: StructType,
                     outDir: String, sortCols: Seq[String],
                     targetBytes: Long): Int = {
    require(sortCols.nonEmpty, "compactParquet needs >=1 sort column")
    require(targetBytes > 0, "compactParquet needs targetBytes > 0")
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(in).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    // FLAT layouts only: a Hive-partitioned input keeps its files in
    // subdirectories, which this top-level listing would size at 0 and
    // silently rewrite the whole table into one file (also flattening
    // the partition columns out of the data) — compact each partition
    // directory separately instead
    require(bytes > 0,
      s"no top-level .parquet files under $inDir — compactParquet " +
        "expects a flat layout; compact partitioned tables per-partition")
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    parquetClustered(s.read.schema(schema).parquet(inDir), outDir, sortCols,
      numFiles = n)
    n
  }

  /** q132: COMPACTION round-trip — write the lineitem projection as a
    * deliberately fragmented 64-tiny-file layout (what a streaming sink
    * or over-parallel job leaves behind), compact it with
    * [[compactParquet]], and aggregate the compacted copy. Oracle = the
    * same aggregate over the original table: hash-equality proves the
    * bin-packed rewrite is lossless; SinksCatalogSpec asserts the
    * file-count contract (computed n, and n ≪ input fragments). */
  def compactRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.scratchQuery("q132") { tmp =>
      val src = Tables.load(s, dir, "lineitem").select(PrunedCols.map(col): _*)
      val frag = tmp.resolve("frag").toString
      src.repartition(64).write.mode("overwrite").parquet(frag)
      val out = tmp.resolve("compact").toString
      compactParquet(s, frag, src.schema, out, Seq("l_orderkey"),
        targetBytes = 32L << 20)
      prunedAgg(s.read.schema(src.schema).parquet(out), flag = None)
    }
  }

  /** The q102–q104 projection: every column participates in the verifying
    * hash. q105/q106 extend it with [[PrunedCols]]' grouping column. */
  private[graft] val RtCols =
    Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")

  /** One side of a format round-trip, shared by [[formatRoundTrip]] and
    * q382's `formatCertificate` so both use the same write options.
    * "parquet" is the certificate's format-neutral control. */
  private[graft] def rtWrite(src: DataFrame, format: String, path: String): Unit =
    format match {
      case "orc" =>
        src.write.mode("overwrite").option("compression", "snappy").orc(path)
      case "csv" =>
        src.write.mode("overwrite").option("header", "true").csv(path)
      case "json"    => Sinks.json(src, path)
      case "xml" =>
        // Spark 4's built-in XML datasource (SPARK-44265): one <line>
        // element per row; doubles render shortest-round-trip like JSON
        src.write.mode("overwrite").option("rowTag", "line").format("xml")
          .save(path)
      case "parquet" => src.write.mode("overwrite").parquet(path)
      case other     => sys.error(s"unsupported round-trip format: $other")
    }
  private[graft] def rtRead(s: SparkSession, format: String, path: String,
                            schema: StructType): DataFrame =
    format match {
      case "orc"     => s.read.orc(path)
      case "csv"     => Tables.csv(s, path, schema)
      case "json"    => Tables.json(s, path, schema)
      case "xml" =>
        // explicit schema, never inference (SURVEY §1.3) — same discipline
        // as the CSV/JSON leg
        s.read.option("rowTag", "line").schema(schema).format("xml").load(path)
      case "parquet" => s.read.schema(schema).parquet(path)
      case other     => sys.error(s"unsupported round-trip format: $other")
    }

  /** q102–q104: FORMAT ROUND-TRIP queries — write a projection through a
    * non-parquet format (ORC with snappy = S9's storage; CSV with header
    * = S1/S6's interchange; JSON lines = S4's sink), read it back with
    * the matching reader, and aggregate. The oracle is the SAME aggregate
    * over the original parquet — hash-equality proves the sink+source
    * pair is bit-lossless for the engine's scalar types (CSV doubles rely
    * on shortest-round-trip rendering; the read uses an explicit schema,
    * never inference — SURVEY §1.3). Staging is cleaned up after the
    * result is materialized off it. */
  def formatRoundTrip(s: SparkSession, dir: String, format: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    Tables.scratchQuery(s"rt-$format") { tmp =>
      // fanOut before the render: a single-split scan would otherwise
      // serialize the whole text/columnar ENCODE (and the read-back
      // parse — one output file ⇒ one scan task) through one core. At
      // production split counts the guard no-ops; the aggregate result
      // is file-count independent (decimal-routed sums, count, long sum).
      val src = Tables.fanOut(Tables.load(s, dir, "lineitem"), "l_orderkey")
        .select(RtCols.map(col): _*)
      val path = tmp.resolve("data").toString
      rtWrite(src, format, path)
      val back = rtRead(s, format, path, src.schema)
      // every projected column participates in the hash: the bigint key
      // too, or a long-only corruption would slip past the oracle
      back.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_key"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_price"))
        .orderBy("l_returnflag")
    }
  }

  /** q105: PARTITION-PRUNED round-trip — write lineitem through
    * [[parquetPartitioned]] (Hive-style `l_returnflag=` directories), read
    * it back filtered to ONE partition value, and aggregate. The oracle is
    * the same filtered aggregate over the ORIGINAL flat parquet, so
    * hash-equality proves the partitioned layout is lossless AND the
    * driver-visible twin of SinksCatalogSpec's pruning proof: the read-back
    * scan carries the flag predicate as a PartitionFilter (planning-time
    * directory pruning — guarded in SinksCatalogSpec's q105 scan-shape
    * test), which at 100 TB turns a one-flag query into a scan of ~1/3rd
    * of the input with zero row-level filtering work. */
  def partitionPrunedRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.scratchQuery("q105") { tmp =>
      val src = Tables.load(s, dir, "lineitem").select(PrunedCols.map(col): _*)
      val path = tmp.resolve("data").toString
      parquetPartitioned(src, path, Seq("l_returnflag"))
      prunedAgg(s.read.parquet(path))
    }
  }

  /** q106: ROW-GROUP-SKIPPED round-trip — write lineitem through
    * [[parquetClustered]] (range-partitioned + sorted on `l_orderkey`),
    * read it back with a key-range predicate, and aggregate. Oracle = the
    * same filtered aggregate over the original parquet: hash-equality
    * proves the clustered layout lossless, and because every file/row
    * group covers a disjoint sorted key slice, the range predicate
    * (pushed to the scan — guarded in SinksCatalogSpec's q106 scan-shape
    * test) skips all non-matching row groups via footer min/max stats.
    * The non-partition storage lever for high-cardinality keys at
    * 100 TB. */
  def clusteredRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.scratchQuery("q106") { tmp =>
      val src = Tables.load(s, dir, "lineitem").select(PrunedCols.map(col): _*)
      val path = tmp.resolve("data").toString
      parquetClustered(src, path, Seq("l_orderkey"), numFiles = 8)
      prunedAgg(s.read.schema(src.schema).parquet(path)
          .filter(col("l_orderkey").between(1000L, 5000L)),
          flag = None)
    }
  }

  /** Morton (Z-order) interleave of two non-negative 31-bit keys into one
    * 62-bit sort key: bit i of `x` lands at position 2i, bit i of `y` at
    * 2i+1 (the classic parallel-prefix bit spread — five mask/shift/or
    * rounds, all codegen'd integer ops, no UDF). Sorting by the result
    * gives a space-filling-curve layout where rows close in BOTH key
    * dimensions land in the same parquet row groups, so footer min/max
    * stats on the two RAW columns can skip row groups for 2-D box
    * predicates — the multi-dimensional generalization of
    * [[parquetClustered]]'s single-key clustering (the same layout lever
    * Delta/Iceberg ship as Z-ORDER / OPTIMIZE ZORDER BY).
    *
    * Inputs must be in [0, 2^31): larger keys should be rank- or
    * hash-compressed to 31 bits first (locality, not exactness, is what
    * the layout needs). */
  private[graft] def mortonC(x: org.apache.spark.sql.Column,
                             y: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft}
    def spread(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val m = Seq(
        0x0000FFFF0000FFFFL -> 16, 0x00FF00FF00FF00FFL -> 8,
        0x0F0F0F0F0F0F0F0FL -> 4, 0x3333333333333333L -> 2,
        0x5555555555555555L -> 1)
      m.foldLeft(c.cast(org.apache.spark.sql.types.LongType)
          .bitwiseAND(lit(0x7FFFFFFFL))) { case (acc, (mask, sh)) =>
        acc.bitwiseOR(shiftleft(acc, sh)).bitwiseAND(lit(mask))
      }
    }
    spread(x).bitwiseOR(shiftleft(spread(y), 1))
  }

  /** HILBERT curve index of a 2-D point — the locality upgrade over
    * [[mortonC]]: a Hilbert walk takes only unit steps (consecutive
    * indexes are always grid NEIGHBORS, which Morton's diagonal jumps
    * are not), so equal-size index ranges cover tighter boxes — fewer
    * row groups touched per 2-D box predicate, the reason modern
    * clustering layouts (e.g. liquid clustering) moved from Z-order to
    * Hilbert. The per-level loop (compare bit, accumulate quadrant,
    * reflect+transpose the frame) runs as a NATIVE codegen'd Catalyst
    * expression ([[graft.functions.HilbertIndex]] — a static-call
    * BinaryExpression, the levenshtein shape): the first cut used an
    * `aggregate` HOF fold, which is CodegenFallback and made the q323
    * layout write ~10× q137's Morton write (13.3 s vs 1.4 s, round-13
    * bench); the native expression keys cost Morton-key cost.
    *
    * Inputs must be in [0, 2^order) — larger keys should be rank- or
    * hash-compressed first (locality, not exactness, is what the
    * layout needs; same contract as [[mortonC]]). */
  private[graft] def hilbertC(x0: org.apache.spark.sql.Column,
                              y0: org.apache.spark.sql.Column,
                              order: Int = 16): org.apache.spark.sql.Column =
    graft.functions.StringExprs.hilbertIndex(
      x0.cast(org.apache.spark.sql.types.LongType),
      y0.cast(org.apache.spark.sql.types.LongType), order)

  /** HILBERT-ordered parquet layout: [[parquetZOrdered]] with the
    * Hilbert key — same one-time range shuffle, tighter per-row-group
    * boxes. */
  def parquetHilbert(df: DataFrame, path: String, xCol: String, yCol: String,
                     numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__h", hilbertC(col(xCol), col(yCol)))
      .repartitionByRange(numFiles, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")
      .write.mode("overwrite").parquet(path)
  }

  /** q323: HILBERT-CLUSTERED round-trip — the sixth-and-a-half storage
    * lever: q137's experiment re-run with the Hilbert key. Write
    * lineitem Hilbert-ordered on (l_partkey, l_suppkey), read back
    * with a 2-D box predicate, aggregate per suppkey; the oracle is
    * the same aggregate over the ORIGINAL parquet, so hash-equality
    * proves the curve rewrite lossless. The reason to own BOTH curves:
    * Morton spreads a box over diagonal jumps (up to ~n distinct index
    * ranges per box), Hilbert's unit-step walk keeps every range
    * contiguous-ish — SinksCatalogSpec measures the per-file box
    * tightness of the two layouts head-to-head on this same write and
    * asserts the Hilbert files carry the smaller average 2-D extent,
    * plus the defining unit-step property cell by cell. */
  def hilbertRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    Tables.scratchQuery("q323") { tmp =>
      val src = Tables.load(s, dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
      val path = tmp.resolve("data").toString
      parquetHilbert(src, path, "l_partkey", "l_suppkey", numFiles = 16)
      s.read.schema(src.schema).parquet(path)
        .filter(col("l_partkey").between(500L, 900L) &&
          col("l_suppkey").between(20L, 60L))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_okey"),
          sum(col("l_partkey")).as("sum_pkey"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_price"))
        .orderBy("l_suppkey")
    }
  }

  /** q324: PARQUET SCHEMA EVOLUTION on read (`mergeSchema`) — the
    * batch-storage twin of q308's state-schema upgrade, and the lake
    * reality every long-lived pipeline hits: generation 1 of a dataset
    * was written without a column that generation 2 added, and the
    * reader must reconcile both vintages in ONE scan — old files
    * surface the new column as NULL, no rewrite of petabytes of
    * history. Staged here as two writes into one directory (gen 1:
    * even doc_ids, 3 columns; gen 2: odd doc_ids, + a derived
    * `tok_est` column), read back with `mergeSchema=true`, and
    * aggregated per source with the vintage split made visible
    * (non-null count + sum of the added column). The oracle recomputes
    * the same frame from the ORIGINAL table — generation membership is
    * a pure function of doc_id — so hash-equality proves the merged
    * read exact: no row lost, no NULL where a value belongs, no value
    * where gen-1 NULL belongs.
    *
    * Shape at 100 TB: schema merge is FOOTER work (the reader unions
    * file schemas at planning; `mergeSchema` reads every footer, which
    * is why production tables pin the merged schema in a catalog
    * instead — the semantics proven here are identical); the scan
    * itself stays columnar with the absent column materialized as
    * NULL vectors, and the aggregate is one ordinary hash-agg. */
  def mergeSchemaRead(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    Tables.scratchQuery("q324") { tmp =>
      val path = tmp.resolve("docs").toString
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      base.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(path)
      base.filter(col("doc_id") % 2 === 1)
        .withColumn("tok_est", expr("n_chars div 5"))
        .write.mode("append").parquet(path)
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(col("tok_est").isNotNull.cast(LongType)).as("n_v2"),
          sum(col("tok_est")).as("sum_tok_est"))
        .orderBy("source")
    }
  }

  /** q333: MANIFEST-PRUNED SCAN — the Iceberg/Delta table-format
    * mechanism, built from parts: a layout write (range-clustered
    * files), a MANIFEST of per-file column stats (min/max/rows) built
    * once as a DataFrame, and a two-phase read that consults the
    * manifest FIRST and hands the planner only the files whose
    * [lo, hi] intersects the predicate. Differs from q106 (row-group
    * skipping) in WHERE the pruning decision is made: q106 trusts the
    * scan operator to read every footer and skip inside files; the
    * manifest prunes at PLAN time from a stats table — at 100 TB /
    * millions of files, footer reads alone are a listing storm, which
    * is exactly why the table formats exist. The oracle recomputes the
    * aggregate over the original table, so hash-equality proves the
    * prune lost no row; the spec asserts the file list actually
    * shrank and the manifest accounts for every row.
    *
    * The driver-side file list is bounded by numFiles (the manifest is
    * metadata, ≤ one row per file — the same cardinality contract a
    * real manifest file has). */
  def manifestPrunedScan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    Tables.scratchQuery("q333") { tmp =>
      val path = tmp.resolve("data").toString
      val src = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
      src.repartitionByRange(16, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(path)
      val manifest = s.read.schema(src.schema).parquet(path)
        .groupBy(input_file_name().as("file"))
        .agg(min("l_partkey").as("lo"), max("l_partkey").as("hi"))
      val (p1, p2) = (300L, 700L)
      val keep = manifest
        .filter(col("hi") >= p1 && col("lo") <= p2)
        .select("file").collect().map(_.getString(0)) // ≤ numFiles rows
      // a fully-pruned predicate (possible at tiny SF) is an EMPTY scan,
      // not an error — same contract as a table format's empty manifest hit
      val pruned =
        if (keep.isEmpty) s.read.schema(src.schema).parquet(path).filter(lit(false))
        else s.read.schema(src.schema).parquet(keep.toIndexedSeq: _*)
      pruned
        .filter(col("l_partkey").between(p1, p2))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_okey"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_qty"))
        .orderBy("l_suppkey")
    }
  }

  /** q347: DELETION-VECTOR MERGE-ON-READ — the Iceberg/Delta positional
    * -delete mechanic, Spark-first: deletes are recorded as (file,
    * row_index) pairs in a DV TABLE (no data file rewritten — the whole
    * point at 100 TB, where deleting 0.1 % of rows must not rewrite
    * 100 TB), and the read applies them by anti-joining the scan's
    * `_metadata.file_path` / `_metadata.row_index` columns against the
    * DV. Here the DV marks every row with l_orderkey % 13 == 0; the
    * oracle recomputes the aggregate over the ORIGINAL table with the
    * logical predicate, so hash-equality certifies the positional
    * plumbing (file identity, row indexes, anti-join application)
    * reproduces the logical delete exactly.
    *
    * Shape at 100 TB: the DV is a narrow (file, pos) frame — the
    * anti-join hashes on (file, pos) against only the deleted rows
    * (broadcast when the delete fraction is small, as here); real
    * formats push this to a per-file bitmap filter, which is the same
    * semantics with the join specialized per split. */
  def deletionVectorScan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    Tables.scratchQuery("q347") { tmp =>
      val path = tmp.resolve("data").toString
      val dvPath = tmp.resolve("dv").toString
      val src = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_quantity", "l_returnflag")
      src.repartition(8, col("l_orderkey"))
        .write.mode("overwrite").parquet(path)
      val withPos = s.read.schema(src.schema).parquet(path)
        .select(col("*"), col("_metadata.file_path").as("fp"),
          col("_metadata.row_index").as("pos"))
      // the delete job: writes ONLY the DV table, touches no data file
      val deletes = withPos.filter(pmod(col("l_orderkey"), lit(13L)) === 0)
        .select("fp", "pos")
      deletes.write.mode("overwrite").parquet(dvPath)
      val dv = s.read.schema(deletes.schema).parquet(dvPath)
      withPos.join(broadcast(dv), Seq("fp", "pos"), "left_anti")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_okey"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_qty"))
        .orderBy("l_returnflag")
    }
  }

  /** q349: BLOOM-INDEX FILE PRUNING — the file-skipping lever for POINT
    * lookups on HIGH-CARDINALITY keys, where q333's min/max manifest is
    * useless (a hash-sharded layout gives every file the full key
    * range). One distributed pass builds a per-file Bloom filter over
    * the key (`aggregateByKey` on the file path — sketch-state folding
    * is the one genuinely imperative per-partition job, the same thing
    * `DataFrameStatFunctions.bloomFilter` does internally); the
    * manifest of ≤ numFiles blooms lives with the table metadata, and a
    * point-IN query consults it at PLAN time, reading only files whose
    * bloom might contain a probe key. False positives cost a read,
    * never a wrong row (the predicate is re-applied post-scan); false
    * negatives cannot happen — which the oracle certifies by
    * recomputing the same IN-aggregate over the original table. The
    * spec asserts the file list actually shrank. */
  def bloomPrunedScan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    Tables.scratchQuery("q349") { tmp =>
      val path = tmp.resolve("data").toString
      val src = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_quantity")
      src.repartition(8, col("l_orderkey")) // hash layout: min/max useless
        .write.mode("overwrite").parquet(path)
      val probes = Seq(7L, 1007L, 2207L, 4007L, 5507L)
      val blooms = bloomIndex(s, path, src.schema, "l_orderkey")
      val keep = blooms.collect {
        case (f, bf) if probes.exists(bf.mightContain) => f
      }.toSeq.sorted
      val pruned =
        if (keep.isEmpty) s.read.schema(src.schema).parquet(path).filter(lit(false))
        else s.read.schema(src.schema).parquet(keep: _*)
      pruned
        .filter(col("l_orderkey").isin(probes: _*))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_suppkey")).as("sum_skey"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_qty"))
        .orderBy("l_orderkey")
    }
  }

  /** ONE-scan per-file Bloom build: (file → bloom over `key`). Driver
    * holds ≤ numFiles sketches (the manifest cardinality contract);
    * expected-items is sized from the total count. `schema` is the
    * writer's schema of `path`, so the read infers nothing. */
  private[graft] def bloomIndex(s: SparkSession, path: String,
                                schema: StructType, key: String)
      : Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    import org.apache.spark.sql.functions._
    val kv = s.read.schema(schema).parquet(path)
      .select(col("_metadata.file_path").as("fp"), col(key).as("k"))
    val perFileExpect = math.max(kv.count() / 4, 64L) // ≥ rows per file
    kv.select("fp", "k").rdd
      .map(r => (r.getString(0), r.getLong(1)))
      .aggregateByKey(
        org.apache.spark.util.sketch.BloomFilter.create(perFileExpect, 0.01))(
        (bf, v) => { bf.putLong(v); bf },
        (a, b) => { a.mergeInPlace(b); a })
      .collect().toMap // ≤ numFiles entries
  }

  /** q334: FIXED-WIDTH DSv2 ROUND-TRIP — lineitem rendered as the
    * mainframe-style fixed-width export (lpad'd slices, one text file
    * per shard), read back through the CUSTOM DataSource V2 connector
    * ([[graft.sources.fixedwidth.FixedWidthSource]]) with a column
    * projection and a pushed `<=` range filter, and aggregated. The
    * oracle recomputes the aggregate over the ORIGINAL table, so
    * hash-equality certifies the whole connector stack — slicing,
    * type parsing, column pruning, filter pushdown, per-file
    * partition planning — lossless. The quantity column rides a
    * ×10⁴ scaled-integer slice (fixed-width exports carry implied
    * decimals; the integer sum is exact on both engines). */
  def fixedWidthRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    Tables.scratchQuery("q334") { tmp =>
      val path = tmp.resolve("fw").toString
      Tables.load(s, dir, "lineitem")
        .select(concat(
          lpad(col("l_orderkey").cast(StringType), 12, " "),
          lpad(col("l_suppkey").cast(StringType), 8, " "),
          lpad(round(col("l_quantity") * 10000).cast(LongType)
            .cast(StringType), 12, " "),
          col("l_returnflag")).as("value"))
        .repartition(8)
        .write.mode("overwrite").text(path)
      s.read.format("graft.sources.fixedwidth.FixedWidthSource")
        .option("spec", "l_orderkey:0:12:long,l_suppkey:12:8:long," +
          "l_q4:20:12:long,l_returnflag:32:1:string")
        .load(path)
        .filter(col("l_suppkey") <= 50L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_okey"),
          sum(col("l_q4")).as("sum_q4"))
        .orderBy("l_returnflag")
    }
  }

  /** q339: FIXED-WIDTH DSv2 **WRITE** ROUND-TRIP — lineitem written
    * through the connector's OWN `SupportsWrite` path (per-task
    * dot-prefixed temp files, rename-on-job-commit, truncate mode —
    * [[graft.sources.fixedwidth.FwBatchWrite]]), read back through the
    * connector's read path with a pushed filter, and aggregated. The
    * oracle recomputes the aggregate over the ORIGINAL table, so
    * hash-equality certifies the full sink lifecycle lossless: value
    * formatting (right-justified numbers via `Double.toString`'s exact
    * shortest round-trip representation), staged visibility, commit
    * renames, and the read stack on top. q334 proved the engine's
    * extensibility for custom *sources*; this closes the loop for
    * custom *sinks* — the real user shape is exporting back to the
    * mainframe format they ingested from. Exactly-once under aborted
    * task attempts is asserted separately by SinksCatalogSpec driving
    * the DataWriter contract directly. */
  def fixedWidthWriteRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    Tables.scratchQuery("q339") { tmp =>
      val path = tmp.resolve("fw").toString
      val spec = "l_orderkey:0:12:long,l_suppkey:12:8:long," +
        "l_quantity:20:24:double,l_returnflag:44:1:string"
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_quantity"), col("l_returnflag"))
        .repartition(8)
        .write.format("graft.sources.fixedwidth.FixedWidthSource")
        .option("spec", spec)
        .mode("overwrite")
        .save(path)
      s.read.format("graft.sources.fixedwidth.FixedWidthSource")
        .option("spec", spec)
        .load(path)
        .filter(col("l_suppkey") <= 60L) // pushed into the parse
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_okey"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_qty"))
        .orderBy("l_returnflag")
    }
  }

  /** q382: CROSS-FORMAT CONSISTENCY CERTIFICATE — the format-migration
    * audit a lake runs before decommissioning a copy: ONE projection of
    * orders written through EVERY sink the engine ships (parquet, ORC,
    * CSV, JSON lines, and the custom fixed-width DSv2 connector), each
    * read back with its matching reader and reduced to the q365
    * order-independent fingerprint (row count + bit-xor + modular
    * DECIMAL sum of 60-bit row keys). Five identical fingerprint rows =
    * the proof that every sink/source pair preserves the SAME bytes —
    * not five separate aggregates that might each mask a different
    * corruption. Integer-only payload (cents, keys, priority string) so
    * no format's float rendering participates. The oracle computes the
    * fingerprint once from the original parquet and expects it five
    * times. */
  def formatCertificate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.functions.TextPrims.hex60C
    Tables.scratchQuery("q382") { tmp =>
      // fanOut for the same reason as formatRoundTrip: five sequential
      // single-task encode/parse legs otherwise ride one core each.
      val src = Tables.fanOut(Tables.load(s, dir, "orders"), "o_orderkey")
        .select(
          col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast(LongType).as("cents"),
          col("o_orderpriority"))
      def fp(df: DataFrame, label: String): DataFrame = {
        val h = hex60C(md5(concat_ws("|", col("o_orderkey"),
          col("o_custkey"), col("cents"), col("o_orderpriority"))))
        // sum_fp is the modular fingerprint (Σ h mod p) mod p: the
        // accumulation rides DECIMAL(38,0) (BIGINT would wrap past ~9e9
        // rows) but the EMITTED value is reduced below p and cast BIGINT
        // — one rendering on every engine, which is the whole point of a
        // cross-format certificate (q365's round-16 lesson: the driver
        // gate hash-failed the raw DECIMAL(38,0) rendition).
        df.select(h.as("h"))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(h)").as("xor_fp"),
            pmod(sum(pmod(col("h"), lit(1000000007L))
                .cast(DecimalType(38, 0))),
              lit(1000000007L)).cast(LongType).as("sum_fp"))
          .select(lit(label).as("format"), col("n_rows"), col("xor_fp"),
            col("sum_fp"))
      }
      val fwSpec = "o_orderkey:0:12:long,o_custkey:12:12:long," +
        "cents:24:14:long,o_orderpriority:38:16:string"
      // the five write→read→fingerprint legs are independent pure
      // functions of `src` — run them in ONE wave (the q201 codebook
      // pattern) so the sink/scan jobs overlap instead of serializing;
      // each leg materializes inside its thread (write is an action,
      // the 1-row fingerprint pins via localCheckpoint)
      val legs = Tables.wave(
        Seq("parquet", "orc", "csv", "json").map(f => () => {
          val p = tmp.resolve(f).toString
          rtWrite(src, f, p)
          fp(rtRead(s, f, p, src.schema), f).localCheckpoint()
        }) :+ (() => {
          val p = tmp.resolve("fixedwidth").toString
          src.write.format("graft.sources.fixedwidth.FixedWidthSource")
            .option("spec", fwSpec).mode("overwrite").save(p)
          fp(s.read.format("graft.sources.fixedwidth.FixedWidthSource")
            .option("spec", fwSpec).load(p), "fixedwidth")
            .localCheckpoint()
        }))
      legs.reduce(_ unionAll _)
        .orderBy("format")
    }
  }

  /** Z-ORDERED parquet layout: range-partition + sort on the Morton key
    * of (`xCol`, `yCol`), then drop the key — the written files carry only
    * the original columns, with 2-D locality baked into the row-group
    * layout. One range shuffle at write time buys row-group skipping for
    * every later box query on the two columns. */
  def parquetZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                      numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val z = df.withColumn("__z", mortonC(col(xCol), col(yCol)))
    z.repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** q137: Z-ORDER round-trip — the fifth storage lever (q105 partition
    * pruning, q106 range clustering, q110 bucketing, q132 compaction,
    * this = multi-dimensional clustering): write lineitem Z-ordered on
    * (l_partkey, l_suppkey), read it back with a 2-D box predicate, and
    * aggregate per suppkey. Oracle = the same filtered aggregate over the
    * original parquet, so hash-equality proves the space-filling-curve
    * rewrite lossless; SinksCatalogSpec asserts both box bounds reach the
    * scan as PushedFilters. Single-key clustering (q106) can serve only
    * ONE predicate column — at 100 TB, a part×supplier box query over a
    * partkey-clustered table still reads every row group of every file
    * for the suppkey half; the Morton layout bounds both dimensions per
    * row group, the reason warehouse formats ship Z-ORDER for exactly
    * this two-filter access pattern. */
  def zorderRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    Tables.scratchQuery("q137") { tmp =>
      val src = Tables.load(s, dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
      val path = tmp.resolve("data").toString
      parquetZOrdered(src, path, "l_partkey", "l_suppkey", numFiles = 16)
      // every projected column participates in the verifying hash
      // (q102's rule): keys via sums, measures via exact decimal sums
      s.read.schema(src.schema).parquet(path)
        .filter(col("l_partkey").between(100L, 400L) &&
          col("l_suppkey").between(10L, 40L))
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_okey"),
          sum(col("l_partkey")).as("sum_pkey"),
          sum(col("l_quantity").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_price"))
        .orderBy("l_suppkey")
    }
  }

  /** q139: deterministic HASH-SHARDED EXPORT — the "write the training
    * corpus as N stable shards" step at the end of a data pipeline:
    * every document's shard is a pure function of its id
    * (md5-fold mod N — reproducible across runs, engines and
    * partitionings, like q77's mixing buckets), each shard is written as
    * ONE sorted file under a `shard=K` directory (repartition on the
    * shard key + in-partition sort), and the verifying read-back proves
    * the export lossless per shard: counts, char volume, id range, and
    * an order-independent xor content checksum (bit_xor of the 60-bit
    * md5 fold of `text` — exact at any scale, where a sum checksum
    * would need decimal routing past ~2^3 rows).
    *
    * At 100 TB this is the terminal layout lever: training jobs read
    * shard subsets without listing the world, re-exports touch only
    * changed shards, and the checksum column makes shard-level drift
    * detection a metadata-only diff. */
  def shardedExportRoundTrip(s: SparkSession, dir: String,
                             shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.functions.TextPrims.hex60C
    Tables.scratchQuery("q139") { tmp =>
      val path = tmp.resolve("export").toString
      Tables.load(s, dir, "documents")
        .withColumn("shard",
          pmod(hex60C(md5(col("doc_id").cast(StringType))), lit(shards.toLong)))
        .repartition(shards, col("shard"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").partitionBy("shard").parquet(path)
      s.read.parquet(path)
        .groupBy(col("shard").cast(IntegerType).as("shard"))
        .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"),
          max("doc_id").as("max_doc"),
          // bit_xor has no Column-API builder; the argument is exactly
          // TextPrims.hex60C(md5(text)) in SQL form
          expr("bit_xor(CAST(conv(substring(md5(text), 1, 15), 16, 10) " +
            "AS BIGINT))").as("xor_hash"))
        .orderBy("shard")
    }
  }

  /** q110: BUCKETED-JOIN round-trip — the third storage lever after
    * partition pruning (q105) and range clustering (q106): write orders
    * and customer as bucketed+sorted managed tables on the join key
    * (8 buckets each side), then join them bucket-to-bucket and
    * aggregate. The join is pinned to sort-merge (`hint("merge")`) so
    * the bucketed layout — not a fixture-scale broadcast — carries it:
    * both scans expose `hashpartitioning(custkey, 8)`, satisfying the
    * join's distribution requirement with ZERO Exchange in the plan
    * (shape proven in SinksCatalogSpec's bucketed-join test). Oracle =
    * the same join+aggregate over the original flat parquet, so
    * hash-equality proves the bucketed catalog layout lossless. The
    * SURVEY §2.1 S9 co-location lever: at 100 TB a recurring
    * orders⋈customer join pre-bucketed on custkey skips BOTH shuffle
    * legs on every run — one bucketed write amortized over every later
    * join. Managed tables are dropped (data deleted) after the result
    * is materialized off them. */
  def bucketedJoinRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val (ot, ct) = ("graft_q110_orders_b", "graft_q110_customer_b")
    try {
      bucketedWrite(Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"), "o_custkey", ot)
      bucketedWrite(Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment"), "c_custkey", ct)
      // every projected column participates in the hash (q102's rule)
      bucketedJoin(s, ot, ct)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("sum_key"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_price"))
        .orderBy("c_mktsegment")
        .localCheckpoint()
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $ct")
    }
  }

  /** q110's write half: bucketed+sorted managed table on the join key,
    * [[BucketCount]] buckets. Shared with SinksCatalogSpec's plan guard so
    * the guarded layout can't drift from the benchmarked one. */
  private[graft] def bucketedWrite(df: DataFrame, key: String,
                                   table: String): Unit =
    df.write.mode("overwrite").bucketBy(BucketCount, key).sortBy(key)
      .saveAsTable(table)

  /** q110's join half: sort-merge pinned so the bucketed layout (not a
    * fixture-scale broadcast) carries the join. Shared with the spec's
    * zero-Exchange plan assertion. */
  private[graft] def bucketedJoin(s: SparkSession, ordersTbl: String,
                                  custTbl: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    s.table(ordersTbl).hint("merge")
      .join(s.table(custTbl), col("o_custkey") === col("c_custkey"))
  }

  /** Bucket count for q110's tables — 8 at fixture scale; production sizes
    * this to (table size / target bucket file size), same on both sides. */
  private[graft] val BucketCount = 8

  /** The q105/q106 projection: [[RtCols]] + the grouping column. Both
    * storage-lever queries and their SinksCatalogSpec scan-shape guards
    * must project the same set — [[prunedAgg]]'s hash contract ("every
    * projected column participates") depends on it. */
  private[graft] val PrunedCols = RtCols :+ "l_linestatus"

  /** Shared q105/q106 aggregate: per-linestatus counts + exact decimal
    * sums over the (optionally flag-filtered) read-back frame. Every
    * projected column participates in the hash (q102's rule). */
  private[graft] def prunedAgg(back: DataFrame,
                               flag: Option[String] = Some("R")): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val f = flag.map(v => back.filter(col("l_returnflag") === v)).getOrElse(back)
    // the hash contract is "every projected column participates": with a
    // flag FILTER the flag is covered by selection; without one it must
    // join the grouping key instead, or a corruption confined to the flag
    // column would slip through the round-trip compare (round-6 advice)
    val keys = if (flag.isDefined) Seq("l_linestatus")
               else Seq("l_returnflag", "l_linestatus")
    f.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("l_orderkey")).as("sum_key"),
        sum(col("l_quantity").cast(DecimalType(18, 4)))
          .cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 4)))
          .cast(DoubleType).as("sum_price"))
      .orderBy(keys.map(col): _*)
  }

  /** Distributed JSON-lines sink (S4; nb cells 62-64). */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Sampled CSV sink (S6; complete_pipeline.py:99) — explicit limit before
    * the single-file coalesce so the driver never pulls unbounded data. */
  def csvSample(df: DataFrame, path: String, n: Int): Unit =
    df.limit(n).coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** Result-document sink (S5/S7): reference writes metric docs to MongoDB +
    * local JSON (knn_classification.py:267-279). Offline default: JSON file. */
  trait ResultSink { def write(collection: String, df: DataFrame): Unit }
  final class JsonDirSink(baseDir: String) extends ResultSink {
    def write(collection: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").json(s"$baseDir/$collection")
  }

  /** MongoDB result sink (S7, the reference's mongo-spark path —
    * knn_classification.py:267-271 writes result docs to the collections
    * scripts/mongo-init.js:8-22 creates). The `"mongodb"` format string
    * resolves at RUNTIME through Spark's DataSource registry, so this
    * compiles and ships in the offline build; it only needs the
    * mongo-spark-connector jar on the classpath when actually invoked
    * (the env-gated live smoke — LiveSmokeSpec — is the caller). Append
    * mode: the reference's result collections are event logs, not
    * snapshots. */
  final class MongoResultSink(uri: String, database: String)
      extends ResultSink {
    def write(collection: String, df: DataFrame): Unit =
      df.write.format("mongodb")
        .option("connection.uri", uri)
        .option("database", database)
        .option("collection", collection)
        .mode("append").save()
  }

  /** Env-flag contract for the live-connector smoke (round-10 verdict
    * item 7): `SPARK_GRAFT_KAFKA=host:port[/topic]` enables the Kafka
    * leg, `SPARK_GRAFT_MONGO=mongodb://...[/db]` the Mongo leg. Absent
    * vars ⇒ the smoke skips cleanly (the sandbox has no broker or
    * connector jars; the operator graphs stay proven through the file
    * twins). */
  def liveKafka: Option[(String, String)] =
    sys.env.get("SPARK_GRAFT_KAFKA").map { v =>
      v.split("/", 2) match {
        case Array(b, t) => (b, t)
        case _           => (v, "us_accidents")
      }
    }
  def liveMongo: Option[(String, String)] =
    sys.env.get("SPARK_GRAFT_MONGO").map { v =>
      val i = v.lastIndexOf('/')
      if (i > "mongodb://".length) (v.substring(0, i), v.substring(i + 1))
      else (v, "us_accidents")
    }

  /** The reference deployment's collection set (scripts/mongo-init.js:8-14)
    * — ResultSink targets should come from here so an offline JSON dir is
    * layout-compatible with the Mongo database the reference initializes. */
  val MongoCollections: Set[String] = Set(
    "us_accidents_raw", "us_accidents_cleaned", "us_accidents_clustered",
    "knn_results", "kmeans_results", "random_forest_results", "pipeline_logs")

  /** One-row result document in the reference's exact kNN shape
    * (knn_classification.py:253-263): `{ model_name, timestamp,
    * features_used[], metrics{...}, parameters{k, distance_metric} }` —
    * what the reference appends to the `knn_results` collection. Metrics
    * keys are sorted so the document schema is deterministic. */
  def knnResultsDoc(s: SparkSession, timestamp: String,
                    featuresUsed: Seq[String], metrics: Map[String, Double],
                    k: Int): DataFrame =
    s.range(1).select(
      lit("kNN").as("model_name"),
      lit(timestamp).as("timestamp"),
      array(featuresUsed.map(lit(_)): _*).as("features_used"),
      struct(metrics.toSeq.sortBy(_._1).map { case (m, v) =>
        lit(v).as(m) }: _*).as("metrics"),
      struct(lit(k).as("k"),
        lit("euclidean").as("distance_metric")).as("parameters"))

  /** The registry queries this module declares (see [[graft.Query]]). */
  def queries: Seq[Query] = Seq(
    // format round-trips: write ORC/CSV/JSON, read back, aggregate — oracle is
    // the direct parquet aggregate, so the sink+source pair is bit-lossless
    Query("q102_orc_roundtrip", (s, d) => formatRoundTrip(s, d, "orc"),
      rtOracle),
    Query("q103_csv_roundtrip", (s, d) => formatRoundTrip(s, d, "csv"),
      rtOracle),
    Query("q104_json_roundtrip", (s, d) => formatRoundTrip(s, d, "json"),
      rtOracle),
    // storage levers made driver-visible: write through the partitioned /
    // range-clustered layouts, read back pruned (PartitionFilters / pushed
    // key-range row-group skipping — scan shapes guarded in
    // SinksCatalogSpec), aggregate; oracle = the same filtered aggregate
    // over the original flat parquet
    Query("q105_partition_pruned", partitionPrunedRoundTrip _,
      prunedOracle("l_returnflag = 'R'")),
    Query("q106_clustered_skip", clusteredRoundTrip _,
      prunedOracle("l_orderkey BETWEEN 1000 AND 5000", groupFlag = true)),
    // third storage lever: bucketed+sorted managed tables carry the join
    // with zero Exchange (co-location); oracle = same join on flat parquet
    Query("q110_bucketed_join", bucketedJoinRoundTrip _,
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // fourth storage lever: bin-packed compaction of a fragmented layout
    // identity aggregate: the compaction rewrite must be lossless
    Query("q132_compaction", compactRoundTrip _,
      prunedOracle("1 = 1", groupFlag = true)),
    // fifth storage lever: Z-order (Morton) 2-D clustering round-trip
    // q137 oracle = the same 2-D box aggregate over the ORIGINAL
    // parquet — hash-equality proves the Z-order rewrite lossless
    Query("q137_zorder_skip", zorderRoundTrip _,
      """SELECT l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(SUM(l_partkey) AS BIGINT) AS sum_pkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 400 AND l_suppkey BETWEEN 10 AND 40
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
    // terminal layout lever: stable hash-sharded corpus export with
    // per-shard xor content checksums
    // q139 oracle = the same per-shard rollup computed from the shard
    // FUNCTION (not the written layout): hash-equality proves the
    // partitioned export lossless shard by shard, checksums included
    Query("q139_sharded_export", shardedExportRoundTrip(_, _), {
      import graft.functions.TextPrims.hex60S
      s"""WITH h AS (SELECT doc_id, n_chars, text,
         |    ${hex60S("md5(CAST(doc_id AS VARCHAR))")} % 8 AS shard
         |  FROM documents)
         |SELECT CAST(shard AS INTEGER) AS shard,
         |  CAST(COUNT(*) AS INTEGER) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
         |  bit_xor(${hex60S("md5(text)")}) AS xor_hash
         |FROM h GROUP BY shard ORDER BY shard""".stripMargin
    }),
    // Hilbert-clustered layout: q137's Z-order lever with the unit-step
    // curve — tighter per-row-group boxes, same lossless round-trip
    // q323 oracle = the same 2-D box aggregate over the ORIGINAL
    // parquet — hash-equality proves the Hilbert rewrite lossless
    Query("q323_hilbert_skip", hilbertRoundTrip _,
      """SELECT l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(SUM(l_partkey) AS BIGINT) AS sum_pkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_partkey BETWEEN 500 AND 900 AND l_suppkey BETWEEN 20 AND 60
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
    // parquet schema evolution on read: two vintages, one mergeSchema
    // scan — old files surface the added column as NULL, no rewrite
    // q324 oracle = the vintage-split aggregate from the ORIGINAL
    // table (generation membership is a pure function of doc_id)
    Query("q324_merge_schema", mergeSchemaRead _,
      """SELECT source, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_v2,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars // 5 END)
        |    AS BIGINT) AS sum_tok_est
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // manifest-pruned scan: per-file stats table consulted at plan
    // time — the Iceberg/Delta pruning mechanism from parts
    // q333 oracle = the same range aggregate over the ORIGINAL table:
    // hash-equality proves the manifest prune lost no row
    Query("q333_manifest_prune", manifestPrunedScan _,
      """SELECT l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_partkey BETWEEN 300 AND 700
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
    // custom DataSource V2 connector: fixed-width reader with column
    // pruning + filter pushdown, certified by round-trip hash
    // q334 oracle = the same filtered aggregate over the ORIGINAL
    // table (quantity via the same x10^4 scaled-integer route)
    Query("q334_fixedwidth_dsv2", fixedWidthRoundTrip _,
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(SUM(CAST(round(l_quantity * 10000) AS BIGINT))
        |    AS BIGINT) AS sum_q4
        |FROM lineitem WHERE l_suppkey <= 50
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // DSv2 WRITE path: lineitem through the connector's SupportsWrite
    // (temp files + rename-on-commit, truncate), read back + aggregated
    // q339 oracle = the same filtered aggregate over the ORIGINAL
    // table: hash-equality certifies the connector's write path
    // (formatting, staged temps, commit renames) + read path lossless
    Query("q339_fixedwidth_write", fixedWidthWriteRoundTrip _,
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem WHERE l_suppkey <= 60
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // deletion-vector merge-on-read: positional deletes applied by
    // anti-join on (_metadata.file_path, row_index)
    // q347 oracle = the logical delete as a plain predicate over the
    // original table: positional plumbing must reproduce it exactly
    Query("q347_deletion_vectors", deletionVectorScan _,
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem WHERE l_orderkey % 13 <> 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // per-file Bloom index pruning for point lookups on hash layouts
    // q349 oracle = the same point-IN aggregate over the original
    // table: bloom pruning may cost a read, never a row
    Query("q349_bloom_prune", bloomPrunedScan _,
      """SELECT l_orderkey, COUNT(*) AS n,
        |  CAST(SUM(l_suppkey) AS BIGINT) AS sum_skey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem WHERE l_orderkey IN (7, 1007, 2207, 4007, 5507)
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    // one projection through all five sinks -> five identical fingerprints
    // q382 oracle = ONE fingerprint from the original parquet, expected
    // identically for each of the five formats
    Query("q382_format_certificate", formatCertificate _, {
      val rowKey = "CAST(o_orderkey AS VARCHAR) || '|' || " +
        "CAST(o_custkey AS VARCHAR) || '|' || " +
        "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) " +
        "|| '|' || o_orderpriority"
      s"""WITH f AS (SELECT ${graft.functions.TextPrims.hex60S(
            s"md5($rowKey)")} AS h FROM orders),
         |g AS (SELECT COUNT(*) AS n_rows, bit_xor(h) AS xor_fp,
         |    CAST(CAST(SUM(CAST(h % 1000000007 AS DECIMAL(38,0)))
         |      AS HUGEINT) % 1000000007 AS BIGINT) AS sum_fp
         |  FROM f)
         |SELECT fmt AS format, n_rows, xor_fp, sum_fp
         |FROM g CROSS JOIN (VALUES ('parquet'), ('orc'), ('csv'),
         |  ('json'), ('fixedwidth')) v(fmt)
         |ORDER BY format""".stripMargin
    }),
    // Spark 4 native XML (SPARK-44265) joins the round-trip family:
    // write <line> rows, read back with the explicit schema, aggregate
    Query("q400_xml_roundtrip", (s, d) => formatRoundTrip(s, d, "xml"),
      rtOracle),
  )

  /** q102–q104 and q400 oracle = the direct aggregate over the ORIGINAL
    * parquet: hash-equality proves each non-parquet sink+source round-trip
    * lossless. */
  private lazy val rtOracle =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q105/q106/q132 oracle = the same filtered aggregate over the ORIGINAL
    * flat parquet: hash-equality proves each pruned storage layout (Hive
    * partition dirs / range-clustered row groups) lossless. q106 has no
    * flag filter, so l_returnflag joins the grouping key — every projected
    * column participates in the hash either way. */
  private def prunedOracle(where: String, groupFlag: Boolean = false) = {
    val keys = if (groupFlag) "l_returnflag, l_linestatus" else "l_linestatus"
    s"""SELECT $keys, COUNT(*) AS n,
       |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
       |FROM lineitem WHERE $where
       |GROUP BY $keys ORDER BY $keys""".stripMargin
  }
}
