package graft.streaming

import graft.Query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.10). The reference declares a
  * Kafka→Spark path (scripts/kafka_producer.py feeds topic `us_accidents`;
  * spark.kafka.bootstrap.servers pre-configured in
  * config/spark-defaults.conf:17) but ships no consumer. This module
  * completes that architecture with the idiomatic Structured Streaming
  * shapes:
  *
  *  - Kafka JSON source → typed frame (S10 consumer side);
  *  - event-time tumbling-window aggregation with watermark (the streaming
  *    twin of Relational.tumblingWindowAgg — same logical plan, incremental
  *    execution);
  *  - stateful sessionization via flatMapGroupsWithState (custom state);
  *  - parquet sink with checkpointing.
  *
  * Scale notes: watermark bounds state; the windowed agg shuffles on
  * (window, key) with partial aggregation per micro-batch; session state is
  * per-user and evicted on timeout — all properties that hold on a
  * 1000-executor cluster unchanged.
  */
object EventStream {

  /** events schema (matches TESTDATA events.parquet after ts conversion). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Kafka JSON source (S10): subscribe → parse value JSON with explicit
    * schema. Requires the kafka connector jar at runtime; kept behind this
    * builder so offline builds never touch it. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(from_json(col("value").cast(StringType), eventSchema).as("e"))
      .select("e.*")

  /** File-based streaming source over a directory of event parquet files —
    * the offline-testable source (new files = new micro-batches). */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling-window count+sum per event type with a watermark. Late events
    * beyond the watermark are dropped; state is bounded by
    * (watermark horizon / window) × |event_type|. */
  def tumblingCounts(events: DataFrame,
                     window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  /** `start`/`lastTs` are epoch MICROseconds (`Timestamp.getTime` is
    * millis — a µs-precision event stream would silently truncate).
    * `sumScaled` accumulates value in fixed-point 1e-4 units (the
    * DECIMAL(18,4) convention `Relational.dsum` uses batch-side): integer
    * addition is exact and order-independent, so the per-session sum is
    * identical no matter how events split across micro-batches. A raw
    * Double accumulator would drift with batch boundaries. For values
    * exact at ≤4 decimals (the DECIMAL(18,4) domain) this matches a
    * batch/oracle decimal sum bit-for-bit; values carrying more decimal
    * digits round half-even on the binary double here (`rint`) vs
    * HALF_UP on the decimal string in a Spark double→DECIMAL cast, so
    * the batch-parity claim is conditional on decimal-clean inputs. */
  final case class SessionState(start: Long, lastTs: Long, nEvents: Long, sumScaled: Long)

  private def tsMicros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def microsTs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      math.floorDiv(us, 1000000L), math.floorMod(us, 1000000L) * 1000L))
  final case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                               session_end: java.sql.Timestamp, n_events: Long,
                               sum_value: Double)

  /** Gap-based sessionization: events for a user belong to one session while
    * gaps stay under `gapMs`; a session is emitted when the gap is exceeded,
    * or — for the trailing open session — when no new events arrive for
    * `idleTimeout` of processing time (the state times out, the session is
    * flushed and evicted, so per-user state never lives forever).
    *
    * Batch-mode caveat (Spark semantics, not ours): in a batch run of
    * flatMapGroupsWithState there are no subsequent micro-batches, so
    * timeouts never fire and the trailing session per user is not emitted.
    *
    * `idleTimeout = None` disables the flush (NoTimeout): trailing sessions
    * then stay in state deliberately — the deterministic mode tests use
    * (with a processing-time timeout the engine keeps scheduling
    * timeout-check batches, so MemoryStream + processAllAvailable never
    * quiesces). */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 idleTimeout: Option[String] = Some("30 seconds")): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), timeoutConf) {
        case (userId, evs, state: GroupState[SessionState]) =>
          def emit(st: SessionState) =
            UserSession(userId, microsTs(st.start), microsTs(st.lastTs),
              st.nEvents,
              // ONE correctly-rounded conversion at emission — the same
              // scaled-int → double step DECIMAL(18,4)→DOUBLE takes
              st.sumScaled / 1e4)
          if (state.hasTimedOut) {
            // idle user: flush the open session and drop the state
            val closed = state.getOption.map(emit)
            state.remove()
            closed.iterator
          } else {
            val sorted = evs.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
            var cur = state.getOption.orNull
            val out = scala.collection.mutable.ListBuffer.empty[UserSession]
            sorted.foreach { e =>
              val t = tsMicros(e.ts)
              if (cur == null) cur = SessionState(t, t, 0, 0L)
              else if (t - cur.lastTs > gapMs * 1000L) {
                out += emit(cur)
                cur = SessionState(t, t, 0, 0L)
              }
              // rint recovers the exact 4-decimal scaled integer (the
              // double for e.g. 123.45 scales to 1234499.999…)
              cur = cur.copy(lastTs = t, nEvents = cur.nEvents + 1,
                sumScaled = cur.sumScaled + math.rint(e.value * 1e4).toLong)
            }
            if (cur != null) {
              state.update(cur)
              idleTimeout.foreach(state.setTimeoutDuration)
            }
            out.iterator
          }
      }
  }

  final case class EwmaState(lastUs: Long, lastEid: Long, ewma: Double,
                             n: Long)
  final case class EwmaPoint(user_id: Long, event_id: Long, n: Long,
                             ewma: Double)

  /** Running per-user EWMA: ewma₁ = v₁, ewmaₙ = α·vₙ + (1−α)·ewmaₙ₋₁ —
    * the canonical "arbitrary per-key running state" streaming operator
    * (anomaly baselines, rate smoothing) that windowed aggregation
    * cannot express: the recursion depends on EVERY prior value, so it
    * must live in keyed state, not a frame. Emits one point per event.
    *
    * Determinism contract: events fold in (event-time, event_id) order
    * — a total order WITHIN each micro-batch, and the state carries the
    * high-water mark (lastUs, lastEid) so a straggler that arrives in a
    * later batch with (ts, event_id) ≤ the mark is DROPPED rather than
    * folded after newer events (folding it would silently diverge from
    * the documented total-order recursion and from the q194
    * recursive-CTE oracle). Under that contract the emitted series for
    * the KEPT events is a pure function of the data regardless of
    * micro-batch slicing; each step is the fixed IEEE expression
    * α·v + (1−α)·e over the raw input doubles (no rescaling, no
    * rounding), which a batch recursion over the same doubles
    * reproduces bit-for-bit. Deployments that must not lose stragglers
    * put a watermark+sort stage in front (the q212 staging pattern);
    * the drop-don't-reorder policy here is the one that keeps state
    * constant-size — one (ts, eid, ewma, n) tuple per user, the shape
    * that runs forever. */
  def ewmaByUser(events: Dataset[Event],
                 alpha: Double = 0.5): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, evs, state: GroupState[EwmaState]) =>
          val sorted = evs.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer.empty[EwmaPoint]
          sorted.foreach { e =>
            val t = tsMicros(e.ts)
            val late = st != null &&
              (t < st.lastUs || (t == st.lastUs && e.event_id <= st.lastEid))
            if (!late) {
              st =
                if (st == null) EwmaState(t, e.event_id, e.value, 1L)
                else EwmaState(t, e.event_id,
                  alpha * e.value + (1 - alpha) * st.ewma, st.n + 1)
              out += EwmaPoint(userId, e.event_id, st.n, st.ewma)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** q194 — STREAMING RUNNING-EWMA parity, the eleventh streaming
    * surface: [[ewmaByUser]] run AvailableNow over the linked events table,
    * checked against a DuckDB RECURSIVE-CTE evaluation of the identical
    * recursion. q130 proved session windows; this proves the harder
    * class — unbounded-horizon numeric state where every emission
    * depends on the full per-key history. Same harness discipline as
    * q130: the whole table → one micro-batch, fixture-sized stateful
    * shuffle, NoTimeout. On a live deployment swap in [[kafkaSource]];
    * the recursion is micro-batch-sliceable by construction (state
    * carries the fold). */
  def ewmaStreamParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q194", Parts8) { h =>
      import s.implicits._
      val ds = h.linkedEvents(dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event]
      h.await(h.sink(ewmaByUser(ds).toDF()))
      h.output.orderBy("user_id", "n").localCheckpoint()
    }

  /** q212 — STREAMING DRIFT HISTOGRAM parity, the twelfth streaming
    * surface: q205's reference decile boundaries (fit batch-side on the
    * day ≤ 15 window, micro-unit exact) broadcast as a STATIC frame
    * into the stream, every event assigned its bin by the codegen'd
    * HOF filter, counts aggregated per (6 h tumbling window,
    * event_type, bin) under a watermark — the production shape of a
    * live feature-drift monitor (the PSI assembly over the streamed
    * histogram is q205's batch arithmetic; the histogram IS the
    * streamed artifact). Proves broadcast-static join + HOF binning +
    * windowed aggregation compose in one streaming plan. Oracle: the
    * identical histogram computed batch-side. */
  def driftHistogramParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q212", Parts8) { h =>
      // q85's sentinel staging: the sentinel's fake event_type never
      // matches a boundary row, so the inner broadcast join drops it
      // before it could pollute a histogram cell
      stageDataThenSentinel(h, stagedEvents(s, dir))
      val vq = (col("value").cast(DecimalType(18, 6)) * 1000000)
        .cast(LongType)
      // reference boundaries: batch-fit, static, broadcast into the stream
      val qsArr = (1 until 10).map(i => i / 10.0)
      val bnd = graft.sources.Tables.load(s, dir, "events")
        .filter(dayofmonth(col("ts")) <= 15)
        .select(col("event_type"), vq.as("vq"))
        .groupBy("event_type")
        .agg(expr(s"percentile(vq, array(${qsArr.mkString(", ")}))")
          .as("bnd"))
        .localCheckpoint()
      val binned = inBatches(h)
        // watermark at the SOURCE, before the boundary join: the far-
        // future sentinel must advance event time even though the inner
        // join (rightly) drops its fake event_type from the histogram
        .withWatermark("ts", "12 hours")
        .withColumn("vq", vq)
        .join(broadcast(bnd), Seq("event_type"))
        .withColumn("bin",
          (size(filter(col("bnd"), b => col("vq").cast(DoubleType) > b)) + 1)
            .cast(IntegerType))
        .groupBy(window(col("ts"), "6 hours"), col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("bin"), col("n"))
      h.await(h.sink(binned))
      h.output.orderBy("window_start", "event_type", "bin").localCheckpoint()
    }

  /** Streaming exact dedup — the incremental twin of Dedup.dedupExact:
    * drops re-deliveries of the same key while the watermark bounds how
    * long each key is remembered. State size = keys per watermark horizon,
    * not the full corpus — the only dedup shape that runs forever. */
  def dedupStream(events: DataFrame, keyCol: String = "event_id",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Stream-stream interval join: every click paired with the errors the
    * same user raised within `rangeSec` seconds after it — the canonical
    * streaming correlation/enrichment shape. Watermarks on BOTH sides plus
    * the bounded time-range condition let Spark evict join state once the
    * watermark passes the range bound, so state is O(rate × horizon)
    * regardless of how long the streams run — the property that makes the
    * join viable on an unbounded 100 TB/day firehose. */
  private def clickSide(clicks: DataFrame, watermark: String): DataFrame =
    clicks.filter(col("event_type") === "click")
      .withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))

  private def errorSide(errors: DataFrame, watermark: String): DataFrame =
    errors.filter(col("event_type") === "error")
      .withWatermark("ts", watermark)
      .select(col("event_id").as("error_id"), col("user_id").as("err_user"),
        col("ts").as("error_ts"))

  private def intervalCond(rangeSec: Long) =
    col("user_id") === col("err_user") &&
      col("error_ts") >= col("click_ts") &&
      col("error_ts") <= col("click_ts") +
        expr(s"INTERVAL $rangeSec SECONDS")

  def correlateStreams(clicks: DataFrame, errors: DataFrame,
                       watermark: String = "2 hours",
                       rangeSec: Long = 30 * 60,
                       joinType: String = "inner"): DataFrame =
    clickSide(clicks, watermark)
      .join(errorSide(errors, watermark), intervalCond(rangeSec), joinType)
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("error_id"), col("error_ts"))

  /** Stream-stream LEFT SEMI interval join: each click emitted ONCE iff
    * the same user raised at least one error within `rangeSec` seconds
    * after it — the alerting/eligibility shape ("did X follow?") where
    * the consumer needs the fact, not the matching rows. Semi joins
    * keep the same four keyed state stores as the inner form and evict
    * by the identical watermark arithmetic, but the left row leaves
    * state at its FIRST match — output cardinality is bounded by the
    * click stream, never the match multiplicity, which is what makes
    * the shape safe when one click can correlate with thousands of
    * errors on an unbounded firehose. */
  def correlateSemi(clicks: DataFrame, errors: DataFrame,
                    watermark: String = "2 hours",
                    rangeSec: Long = 30 * 60): DataFrame =
    clickSide(clicks, watermark)
      .join(errorSide(errors, watermark), intervalCond(rangeSec), "left_semi")

  /** Stream-stream ANTI interval join: each click emitted ONCE iff
    * NO error from the same user lands within `rangeSec` after it — the
    * abandonment/absence detector ("X happened and Y never followed"),
    * the semi join's complement. Spark does not support a streaming
    * right side under LeftAnti, so this is spelled the canonical way
    * production streams do it: LEFT OUTER + `error_id IS NULL` — the
    * outer join's null row only materializes once the watermark has
    * passed the point where a match is no longer possible, so the
    * filtered output IS the watermark-certified-absent set, with the
    * identical state/eviction machinery as q135. */
  def correlateAnti(clicks: DataFrame, errors: DataFrame,
                    watermark: String = "2 hours",
                    rangeSec: Long = 30 * 60): DataFrame =
    clickSide(clicks, watermark)
      .join(errorSide(errors, watermark), intervalCond(rangeSec),
        "left_outer")
      .filter(col("error_id").isNull)
      .select(col("click_id"), col("user_id"), col("click_ts"))

  /** q295 — ANTI interval-join parity, the twenty-second streaming
    * surface, completing the stream-stream join family (q109 inner,
    * q135 left outer, q247 left semi, this = anti via outer + IS NULL):
    * hash-equality against the batch NOT EXISTS proves no absent click
    * is reported early (a match still possible) or lost (evicted
    * unreported).
    * Staging uses q135's per-side far-future sentinels so BOTH inputs'
    * watermarks advance past the trailing clicks. */
  def antiJoinParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q295", Flush) { h =>
      stageWithSideSentinels(h, stagedEvents(s, dir))
      h.await(h.sink(correlateAnti(
        fileSource(s, h.in.toString), fileSource(s, h.in.toString))))
      h.output.filter(col("click_id") >= 0).orderBy("click_id")
        .localCheckpoint()
    }

  /** q85 — oracle-checked streaming parity: the SAME hourly aggregation as
    * q21 (`Relational.tumblingWindowAgg`), executed INCREMENTALLY by
    * Structured Streaming over a file source into a checkpointed parquet
    * sink, then read back as a batch frame and compared to q21's DuckDB
    * oracle. This closes the gap between the streaming suite and the
    * driver's correctness signal: the hash-match proves the incremental
    * plan computes the identical result to the batch plan.
    *
    * Two mechanics make exact parity possible:
    *  - Append-mode aggregation only emits a window once the watermark
    *    passes its end, so staging appends ONE far-future sentinel row as
    *    its own later-mtime file (maxFilesPerTrigger=1 ⇒ its own
    *    micro-batch). Eviction in the sentinel batch still uses the
    *    watermark computed at the END of the real-data batch (maxTs − 2h),
    *    so the sentinel batch flushes all but the last ~2h of real
    *    windows; those trailing windows are emitted by the subsequent
    *    NO-DATA micro-batch, which sees the sentinel-advanced watermark.
    *    That batch only runs when
    *    `spark.sql.streaming.noDataMicroBatches.enabled` is true — the
    *    Spark default, but this method sets it explicitly on the session
    *    (restoring the prior value) rather than depending on ambient
    *    config. The sentinel row itself stays inside the final watermark
    *    horizon (never emitted) and is filtered on read-back for safety.
    *  - Sums are routed through DECIMAL(18,4) (the `Relational.dsum`
    *    shape), so incremental accumulation across micro-batch boundaries
    *    is bit-identical to the batch/oracle result.
    *
    * On a live deployment this is the reference's intended Kafka path
    * (S10): swap `fileSource` for `kafkaSource` and drop the sentinel
    * staging — a live stream's own arrivals advance the watermark. */
  def streamingParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q85", Flush) { h =>
      stageDataThenSentinel(h, stagedEvents(s, dir))
      h.await(h.sink(hourlyAgg(inBatches(h))))
      h.output.filter(col("event_type") =!= "__watermark_sentinel__")
        .localCheckpoint()
        .orderBy("hour_start", "event_type")
    }

  /** q85's streamed aggregate (q21's hourly count + DECIMAL-routed sum)
    * under a 2 h watermark; q143 runs the identical plan twice. */
  private def hourlyAgg(src: DataFrame): DataFrame =
    src
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Move the single parquet part out of a one-file staged write, stamping
    * a deterministic mtime (FileStreamSource batches oldest-mtime-first),
    * so staging writes can run as one [[graft.sources.Tables.wave]]
    * without the micro-batch order depending on completion order. */
  private[graft] def moveOnlyParquet(stageDir: java.nio.file.Path,
                              dest: java.nio.file.Path, mtimeMs: Long): Unit = {
    val part = Option(stageDir.toFile.listFiles).getOrElse(Array.empty)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $stageDir"))
    java.nio.file.Files.move(part.toPath, dest)
    java.nio.file.Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  /** The stateful shuffle sized to the fixture: every shuffle partition
    * holds a state store that commits a version per micro-batch (a
    * stream-stream join keeps four per partition), so per-batch cost
    * scales with partitions, not data. Production sizes the same conf
    * to key cardinality. */
  private[graft] val Parts8 = Map("spark.sql.shuffle.partitions" -> "8")

  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** [[Parts8]] plus no-data micro-batches pinned on: the batch after the
    * last sentinel flushes the trailing windows (see q85), so the
    * sentinel harnesses set it instead of relying on the ambient
    * default. */
  private val Flush = Parts8 + (NoDataKey -> "true")

  /** [[Parts8]] plus the RocksDB state store `transformWithState`
    * requires. */
  private val Rocks = Parts8 + ("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** The q308-family confs: [[Rocks]], the Avro state encoding (UnsafeRow
    * forbids ANY schema change; Avro is the evolution-capable format and
    * must be set from the FIRST run — the checkpoint records it), and
    * changelog checkpointing (per-batch RocksDB changelogs instead of
    * full snapshot uploads — the production default for large state,
    * and the prerequisite for q312's change-feed read-back). */
  private val Evo = Rocks ++ Map(
    "spark.sql.streaming.stateStore.encodingFormat" -> "avro",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** One parity run's scratch: `in/` (created) for the staged input,
    * `out/` and `ckpt/` for the query's sink and checkpoint, and every
    * query started through it. Made only by [[staged]]. */
  private[graft] final class Staged private[EventStream] (
      val s: SparkSession, label: String, val dir: java.nio.file.Path) {
    val in: java.nio.file.Path = dir.resolve("in")
    val out: String = dir.resolve("out").toString
    val ckpt: String = dir.resolve("ckpt").toString
    private val started =
      scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    private var outSchema: StructType = null

    /** Starts `df` into `out/` through [[toParquet]]. */
    def sink(df: DataFrame): StreamingQuery =
      startInto(toParquet(df, out, ckpt), df.schema)

    /** Starts `df` AvailableNow with every micro-batch appended to `out/`
      * by foreachBatch (the file sink takes no Update mode). */
    def appendEach(df: DataFrame, mode: OutputMode): StreamingQuery =
      startInto(df.writeStream
        .outputMode(mode)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(out); () }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(), df.schema)

    private val linked = scala.collection.mutable.Set.empty[String]

    /** The `events` table of `sfDir` streamed whole from `in/` without a
      * copy: the first call symlinks the table's leaf files into `in/`,
      * and every call returns a new file source over them (a
      * stream-stream join needs one per side) as [[eventSchema]]. It
      * reads with [[graft.sources.Tables.parquetSchema]] and
      * [[graft.sources.Tables.load]]'s `ts` normalization, so the rows
      * are `load`'s. With no `maxFilesPerTrigger` an AvailableNow run
      * takes every file in one micro-batch, as it took the one-file copy.
      * `cleanSource` is never set and the dir's delete removes only the
      * links, so the table is never touched. A table off the local
      * filesystem, or one with nested (partition) dirs whose values a flat
      * `in/` would drop, cannot be linked and fails. */
    def linkedEvents(sfDir: String): DataFrame = {
      val path = s"$sfDir/events.parquet"
      if (linked.add(path)) {
        val p = new org.apache.hadoop.fs.Path(path)
        val scheme = Option(p.toUri.getScheme).getOrElse(
          org.apache.hadoop.fs.FileSystem.getDefaultUri(
            s.sparkContext.hadoopConfiguration).getScheme)
        require(scheme == "file",
          s"$label: $path is not on the local filesystem, so its files " +
            "cannot be linked into in/")
        val table = java.nio.file.Paths.get(p.toUri.getPath).toAbsolutePath
        graft.sources.Tables.leafFiles(s, path).foreach { f =>
          val target = java.nio.file.Paths.get(f.getPath.toUri)
          require(target == table || target.getParent == table,
            s"$label: $path has a nested file $target, so it cannot be " +
              "linked into one flat in/")
          java.nio.file.Files.createSymbolicLink(
            in.resolve(target.getFileName), target)
        }
      }
      graft.sources.Tables.normalized("events", s.readStream
          .schema(graft.sources.Tables.parquetSchema(s, path))
          .parquet(in.toString))
        .select(eventSchema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    }

    /** Tracks a query started outside [[sink]]/[[appendEach]], so it is
      * stopped on exit too. */
    def track(q: StreamingQuery): StreamingQuery = { started += q; q }

    private def startInto(q: StreamingQuery, schema: StructType)
        : StreamingQuery = {
      outSchema = schema
      track(q)
    }

    /** Waits for `q` to drain; `run` names it in the timeout message. */
    def await(q: StreamingQuery, run: String = "stream"): Unit =
      require(q.awaitTermination(300000),
        s"$label $run did not terminate within 300 s")

    /** `out/` read back with the schema of the frame last started into
      * it — the writer knew it, so no inference job. */
    def output: DataFrame = {
      require(outSchema != null, s"$label started no query into out/")
      s.read.schema(outSchema).parquet(out)
    }

    private[EventStream] def stopActive(): Unit =
      started.foreach(q => if (q.isActive) q.stop())
  }

  /** The one lifecycle of every streaming parity harness: pins `confs`
    * ([[graft.sources.Tables.withConfs]]), makes the scratch dir
    * `graft-<label>…` with `in/`, runs `body`, and on every exit stops
    * each tracked query still active and deletes the dir — a failure at
    * any point (staging, query start, timeout, read-back) leaves no
    * query, conf or scratch behind. The body's result must not read the
    * dir lazily: materialize it (localCheckpoint) before returning. */
  private[graft] def staged[T](s: SparkSession, label: String,
      confs: Map[String, String] = Map.empty)(body: Staged => T): T =
    graft.sources.Tables.withConfs(s, confs) {
      graft.sources.Tables.withScratch(label) { dir =>
        val h = new Staged(s, label, dir)
        try {
          java.nio.file.Files.createDirectories(h.in)
          body(h)
        } finally h.stopActive()
      }
    }

  /** The events table with every streamed column, as the harnesses stage
    * it. */
  private def stagedEvents(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  /** The staged `in/` streamed one file per micro-batch. */
  private def inBatches(h: Staged): DataFrame =
    h.s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(h.in.toString)

  /** [[inBatches]] as typed events. */
  private def typedInBatches(h: Staged): Dataset[Event] = {
    import h.s.implicits._
    inBatches(h).select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
  }

  /** One file per predicate, `slice<i>.parquet` with strictly increasing
    * STAMPED mtimes, so each is its own micro-batch (explicit FileTime
    * instead of sleeping between writes keeps the staging cost off the
    * measured path). */
  private def stageSlices(h: Staged, events: DataFrame,
                          preds: Seq[Column]): Unit =
    preds.zipWithIndex.foreach { case (pred, slice) =>
      val stage = h.dir.resolve(s"stage$slice")
      events.filter(pred)
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      moveOnlyParquet(stage, h.in.resolve(s"slice$slice.parquet"),
        1000000000000L + slice * 60000L)
    }

  /** Even then odd event ids: every user's events fold across a batch
    * boundary. */
  private def idParity: Seq[Column] =
    Seq(col("event_id") % 2 === 0, col("event_id") % 2 === 1)

  /** A one-row event `days` after `maxTs`, on user −1 with a fake
    * event_type: its arrival pushes the watermark past every real
    * window. */
  private def sentinel(s: SparkSession, maxTs: java.sql.Timestamp,
                       days: Long, eventId: Long): DataFrame = {
    import s.implicits._
    Seq((eventId, new java.sql.Timestamp(maxTs.getTime + days * 86400000L),
         -1L, "__watermark_sentinel__", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** q85's staging, shared by q212 and q234. ONE real-data file → ONE
    * micro-batch: a multi-file write's parts share mtimes, and with
    * maxFilesPerTrigger=1 the FileStreamSource tie-break could batch the
    * newest-timestamped part first — the watermark would ratchet past
    * older parts and silently drop them as late. ONE sentinel in its own
    * strictly-later micro-batch: the real-data batch ends by raising the
    * watermark to maxTs−2h, and Append mode emits expired windows in the
    * NEXT batch — the sentinel batch both pushes the watermark past every
    * real window (maxTs+7d−2h) and IS that next batch. The sentinel's own
    * window never finalizes; readers filter it. Data write ∥ bounds agg +
    * sentinel (guide §2.6): independent jobs, micro-batch order carried
    * by the explicit mtimes. */
  private def stageDataThenSentinel(h: Staged, events: DataFrame): Unit =
    graft.sources.Tables.wave(Seq(
      () => {
        val stage0 = h.dir.resolve("stage0")
        events.coalesce(1).write.mode("overwrite").parquet(stage0.toString)
        moveOnlyParquet(stage0, h.in.resolve("aa-data.parquet"),
          mtimeMs = 1000000L)
      },
      () => {
        val maxTs = events.agg(max("ts")).head().getTimestamp(0)
        val stage = h.dir.resolve("sentinel")
        sentinel(h.s, maxTs, 7L, -1L)
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        moveOnlyParquet(stage, h.in.resolve("zz-sentinel.parquet"),
          mtimeMs = 1060000L)
      }))

  /** q135's staging, shared by q295: the events copy written to `in/`,
    * then one far-future sentinel PER JOIN SIDE appended — a click and an
    * error on users −1/−2, so they match nothing — which advances BOTH
    * inputs' watermarks past the trailing clicks. Data write ∥ bounds agg
    * (guide §2.6): only the sentinel APPEND must follow the overwrite. */
  private def stageWithSideSentinels(h: Staged, events: DataFrame): Unit = {
    import h.s.implicits._
    var maxTs: java.sql.Timestamp = null
    graft.sources.Tables.wave(Seq(
      () => { events.coalesce(1).write.mode("overwrite")
        .parquet(h.in.toString); () },
      () => { maxTs = events.agg(max("ts")).head().getTimestamp(0) }))
    val far = new java.sql.Timestamp(maxTs.getTime + 7L * 86400000L)
    Seq((-1L, far, -1L, "click", 0.0, "{}"),
        (-2L, far, -2L, "error", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(h.in.toString)
  }

  /** q107 — oracle-checked UPSERT parity: q85 proved the streaming
    * AGGREGATION path equals its batch twin; this proves the streaming
    * MERGE path ([[upsertSink]]) equals q88's batch SCD-1 semantics. The
    * orders snapshot is seeded as the base generation, the q88 update set
    * (every 10th order, repriced) is staged as a file-stream input and
    * merged by the foreachBatch protocol, and the promoted snapshot is
    * read back; hash-equality against q88's MERGE SQL proves the
    * write-then-swap sink computes the identical keyed merge
    * incrementally. On a live deployment the file source is the Kafka CDC
    * feed and the snapshot is the warehouse dimension table. */
  def upsertParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q107") { h =>
      val snap = h.dir.resolve("snap").toString
      val orders = graft.sources.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"))
      // base generation: today's snapshot
      orders.write.mode("overwrite").parquet(snap)
      // the q88 update set, staged as the stream's one micro-batch
      val updates = orders
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") * 1.1).as("o_totalprice"), col("o_orderdate"))
      updates.coalesce(1).write.mode("overwrite").parquet(h.in.toString)
      val src = s.readStream.schema(
        StructType(updates.schema.fields)).parquet(h.in.toString)
      h.await(h.track(
        upsertSink(src, "o_orderkey", "o_orderdate", snap, h.ckpt)))
      // the merge writes the base's columns and types (the updates carry
      // the same four), so the snapshot reads back with no inference job
      s.read.schema(orders.schema).parquet(snap)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .localCheckpoint()
    }

  /** q109 — oracle-checked INTERVAL-JOIN parity, closing the third
    * streaming surface (q85 = aggregation, q107 = merge, this = join):
    * [[correlateStreams]] executed incrementally over two file sources
    * reading the same linked events table, checkpoint-sinked to parquet,
    * read back, and hash-compared to the batch interval join in DuckDB.
    * No sentinel staging is needed: stream-stream INNER join rows are
    * emitted in the micro-batch where both sides match — the watermark
    * only bounds join STATE (eviction), never emission, so a single
    * AvailableNow pass yields every match. And because the query is a
    * pure join (no aggregation), output values are raw column values —
    * bit-exact across engines with no DECIMAL routing. */
  def intervalJoinParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q109", Parts8) { h =>
      // two INDEPENDENT file sources over the same linked files — the
      // stream-stream join requires distinct source plans per side
      h.await(h.sink(correlateStreams(
        h.linkedEvents(dir), h.linkedEvents(dir))))
      h.output.orderBy("click_id", "error_id").localCheckpoint()
    }

  /** q247 — oracle-checked stream-stream LEFT-SEMI interval-join parity
    * (15th streaming surface; q109 = inner, q135 = left outer, this =
    * the one join type whose EMISSION rule differs from both: a row
    * fires on its first match and is then retired from state). Like
    * q109, no sentinel staging is needed — a semi match is emitted in
    * the micro-batch where it is found, the watermark only bounds
    * state — and because the output is raw click columns there is no
    * DECIMAL routing. The oracle is the batch EXISTS over the same
    * window: hash-equality proves first-match-once semantics (a
    * duplicate emission per extra error, or a dropped click, both
    * break the hash). */
  def semiJoinParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q247", Parts8) { h =>
      h.await(h.sink(correlateSemi(
        h.linkedEvents(dir), h.linkedEvents(dir))))
      h.output.orderBy("click_id").localCheckpoint()
    }

  final case class UserAgg(n: Long, sumScaled: Long, maxV: Double)
  final case class UserTotals(user_id: Long, n: Long, sum_value: Double,
                              max_value: Double)

  /** Per-user running totals on the Spark 4 `transformWithState` API —
    * the arbitrary-state successor to (flat)mapGroupsWithState, with
    * explicitly named, individually-evolvable state variables behind a
    * `StatefulProcessorHandle` (RocksDB-backed). The sum accumulates in
    * fixed-point 1e-4 units (the [[SessionState]] convention) so the
    * fold is exact integer addition — identical no matter how events
    * slice across micro-batches; max is order-independent. Emits the
    * cumulative totals for every key touched by a batch (Update-mode
    * semantics: latest emission per key is the answer). */
  class PeakStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Event, UserTotals] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[UserAgg] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
        : Unit =
      st = getHandle.getValueState[UserAgg]("agg",
        org.apache.spark.sql.Encoders.product[UserAgg],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserTotals] = {
      var s = if (st.exists()) st.get()
              else UserAgg(0L, 0L, Double.NegativeInfinity)
      rows.foreach { e =>
        s = UserAgg(s.n + 1,
          s.sumScaled + math.rint(e.value * 10000.0).toLong,
          math.max(s.maxV, e.value))
      }
      st.update(s)
      Iterator.single(UserTotals(key, s.n, s.sumScaled / 10000.0, s.maxV))
    }
  }

  def userStatsTws(events: Dataset[Event]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new PeakStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[UserTotals])
  }

  /** q253 — TRANSFORMWITHSTATE parity, the sixteenth streaming surface
    * and the only one on the Spark 4 arbitrary-state API (q130/q194
    * grade the legacy (flat)mapGroupsWithState path; this grades its
    * successor, which requires the RocksDB state store). The staged
    * events split into TWO mtime-ordered slices with
    * maxFilesPerTrigger=1, so every user's totals fold across a real
    * micro-batch boundary through named RocksDB state; per-key
    * emissions are cumulative (Update semantics through a foreachBatch
    * parquet append — the q147 sink pattern), and the batch side keeps
    * each user's highest-n emission. The oracle is the plain batch
    * aggregate: hash-equality proves the cross-batch fold loses
    * nothing, double-counts nothing. */
  def twsParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q253", Rocks) { h =>
      stageSlices(h, stagedEvents(s, dir), idParity)
      h.await(h.appendEach(userStatsTws(typedInBatches(h)).toDF(),
        OutputMode.Update()))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n").desc)
      h.output
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1) // the latest (highest-n) emission per key
        .select("user_id", "n", "sum_value", "max_value")
        .orderBy("user_id")
        .localCheckpoint()
    }

  final case class HllRow(event_type: String, n_seen: Long, n_filled: Int,
                          hll_est: Double)

  /** Streaming HyperLogLog per event type over user ids — the
    * production cardinality monitor: 1024 named-MapState registers per
    * key (register index → max rank), folded incrementally across
    * micro-batches; each batch emits the key's current estimate using
    * q259's exact integer-sum formula (registers contribute BIGINT
    * 2^(50−rank) terms; the α literal and the 6-dp-rounded
    * linear-counting branch are shared with the batch operator).
    * Because registers are max-merged, the fold is order- and
    * batch-slicing-independent — the mergeability property that makes
    * HLL the sketch production streams actually run. */
  class HllProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, Event, HllRow] {
    @transient private var regs:
      org.apache.spark.sql.streaming.MapState[Long, Int] = _
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
        : Unit = {
      regs = getHandle.getMapState[Long, Int]("regs",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[HllRow] = {
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { e =>
        n += 1
        val h = graft.functions.TextPrims.javaMd5Hex60(
          s"0#${e.user_id}")
        val (idx, z) = (h % 1024, h >> 10)
        // rank clamped to 50 on z == 0 (mirrors hllOf): a stored 51
        // would shift by -1 below, which wraps to Long.MIN_VALUE.
        val rank =
          if (z == 0) 50 else 51 - java.lang.Long.toBinaryString(z).length
        val cur = if (regs.containsKey(idx)) regs.getValue(idx) else 0
        if (rank > cur) regs.updateValue(idx, rank)
      }
      seen.update(n)
      var filled = 0
      var isumFilled = 0L
      regs.iterator().foreach { case (_, mx) =>
        filled += 1
        isumFilled += 1L << (50 - mx)
      }
      val v0 = 1024L - filled
      val isum = isumFilled + v0 * (1L << 50)
      val raw = graft.text.TextOps.HllAlphaM2 * (1L << 50).toDouble / isum
      val est =
        if (raw <= 2.5 * 1024 && v0 > 0)
          1024.0 * BigDecimal(math.log(1024.0 / v0))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else raw
      Iterator.single(HllRow(key, n, filled,
        BigDecimal(est).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
    }
  }

  def hllStream(events: Dataset[Event]): Dataset[HllRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new HllProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[HllRow])
  }

  /** q260 — STREAMING HLL parity, the seventeenth streaming surface
    * and the second on the Spark 4 API (q253 = ValueState; this =
    * MapState, the register-map layout a streaming sketch actually
    * needs). Two mtime-stamped slices fold through the register state;
    * the batch side keeps each key's LATEST emission (by the strictly
    * growing n_seen counter) and the oracle recomputes the identical
    * sketch — idx,
    * ranks, integer harmonic sum, 6-dp linear-counting branch — over
    * the full events table in DuckDB. Hash-equality proves register
    * max-merge across batch boundaries loses nothing. */
  def hllStreamParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q260", Rocks) { h =>
      stageSlices(h, stagedEvents(s, dir), idParity)
      h.await(h.appendEach(hllStream(typedInBatches(h)).toDF(),
        OutputMode.Update()))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("n_seen").desc)
      h.output
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_type", "n_filled", "hll_est")
        .orderBy("event_type")
        .localCheckpoint()
    }

  final case class Slot(us: Long, eid: Long)
  final case class ReplayRow(user_id: Long, n_seen: Long, n_buf: Int,
                             last5: String)

  /** Per-user bounded REPLAY BUFFER on `transformWithState` ListState —
    * the "last N events per key" state shape (session replay, fraud
    * review, debugging context) that neither an aggregate nor a map
    * naturally models. The buffer holds the 5 latest (event-time,
    * event_id) slots, merged and re-truncated per batch, so the result
    * is a pure function of the event set — independent of batch
    * slicing or arrival order within a batch. */
  class ReplayProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Event, ReplayRow] {
    @transient private var buf:
      org.apache.spark.sql.streaming.ListState[Slot] = _
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
        : Unit = {
      buf = getHandle.getListState[Slot]("buf",
        org.apache.spark.sql.Encoders.product[Slot],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ReplayRow] = {
      val existing =
        if (buf.exists()) buf.get().toVector else Vector.empty[Slot]
      var n = if (seen.exists()) seen.get() else 0L
      val incoming = rows.map { e =>
        n += 1
        Slot(tsMicros(e.ts), e.event_id)
      }.toVector
      val kept = (existing ++ incoming)
        .sortBy(s => (-s.us, -s.eid)).take(5)
      buf.put(kept.toArray)
      seen.update(n)
      Iterator.single(ReplayRow(key, n, kept.length,
        kept.map(_.eid).mkString(",")))
    }
  }

  def replayStream(events: Dataset[Event]): Dataset[ReplayRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new ReplayProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[ReplayRow])
  }

  /** q261 — REPLAY-BUFFER parity, the eighteenth streaming surface,
    * completing the `transformWithState` state-type triad (q253 =
    * ValueState, q260 = MapState, this = ListState). Two mtime-ordered
    * slices interleave every user's events across a batch boundary, so
    * the kept-5 buffer must merge stored slots with new arrivals —
    * order-independence made falsifiable. The oracle is the batch
    * top-5-latest window per user, the ids joined newest-first. */
  def replayParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q261", Rocks) { h =>
      stageSlices(h, stagedEvents(s, dir), idParity)
      h.await(h.appendEach(replayStream(typedInBatches(h)).toDF(),
        OutputMode.Update()))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_seen").desc)
      h.output
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "n_buf", "last5")
        .orderBy("user_id")
        .localCheckpoint()
    }

  final case class CmRow(event_type: String, n_seen: Long, user_id: Long,
                         n_exact: Long, n_est: Long)

  /** Streaming COUNT-MIN heavy-hitter monitor — the ADDITIVE-merge
    * sketch (q260's HLL is max-merge; count-min registers simply ADD,
    * so cross-batch folding is slicing-independent by linearity). Per
    * event-type key: a d×w counter matrix in MapState (flat key
    * j·w + bucket), incremented per arriving user id; a probe-user set
    * (the deterministic user_id % 97 == 0 plane) with exact per-probe
    * counts in a second MapState. Each batch emits, per probe user seen
    * so far, the exact count and the sketch estimate min_j counter —
    * the live calibration row q257 computes in batch. */
  class CmProcessor(d: Int, w: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, Event, CmRow] {
    @transient private var cm:
      org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var pcnt:
      org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
        : Unit = {
      cm = getHandle.getMapState[Long, Long]("cm",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      pcnt = getHandle.getMapState[Long, Long]("pcnt",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    private def bucketOf(j: Int, uid: Long): Long =
      j.toLong * w +
        graft.functions.TextPrims.javaMd5Hex60(s"$j#$uid") % w
    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CmRow] = {
      var n = if (seen.exists()) seen.get() else 0L
      // batch the counter adds locally and flush each TOUCHED cell once:
      // counter adds are commutative+associative, so the post-batch state
      // is bit-identical to per-row read-modify-write — but the store
      // sees O(d·w) ops per batch instead of O(rows·d) (round-16 bench:
      // per-row MapState get/put was ~3 store ops × d per event, the
      // dominant cost of the q270/q319 harness). `delta` is bounded by
      // the sketch size (d·w) by construction; the bucket memo is bounded
      // below, so per-task memory stays O(sketch + bound).
      val delta = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      val pdelta = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      val bcache = new java.util.HashMap[java.lang.Long, Array[Long]]()
      val BcacheMax = 1 << 16
      rows.foreach { e =>
        n += 1
        val uid = e.user_id
        var cells = bcache.get(uid)
        if (cells == null) {
          cells = Array.tabulate(d)(j => bucketOf(j, uid))
          if (bcache.size < BcacheMax) bcache.put(uid, cells)
        }
        var j = 0
        while (j < d) {
          delta.merge(cells(j), 1L, _ + _)
          j += 1
        }
        if (uid % 97 == 0) pdelta.merge(uid, 1L, _ + _)
      }
      delta.forEach { (k, add) =>
        val cur = if (cm.containsKey(k)) cm.getValue(k) else 0L
        cm.updateValue(k, cur + add.longValue)
      }
      pdelta.forEach { (k, add) =>
        val cur = if (pcnt.containsKey(k)) pcnt.getValue(k) else 0L
        pcnt.updateValue(k, cur + add.longValue)
      }
      seen.update(n)
      // materialize eagerly: state handles (cm/pcnt) must only be
      // touched inside handleInputRows, not at iterator-consume time
      val out = scala.collection.mutable.ArrayBuffer.empty[CmRow]
      pcnt.iterator().foreach { case (uid, exact) =>
        var est = Long.MaxValue
        var j = 0
        while (j < d) {
          val c = cm.getValue(bucketOf(j, uid))
          if (c < est) est = c
          j += 1
        }
        out += CmRow(key, n, uid, exact, est)
      }
      out.iterator
    }
  }

  val CmD = 4
  val CmW = 256

  def cmStream(events: Dataset[Event]): Dataset[CmRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new CmProcessor(CmD, CmW),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[CmRow])
  }

  /** q270 — STREAMING COUNT-MIN parity, the twentieth streaming
    * surface: the additive-merge counterpart of q260 (HLL max-merge).
    * Two mtime-ordered slices split every heavy user's events across a
    * batch boundary, so a correct result REQUIRES the counter adds to
    * fold across batches; the batch side keeps each (type, probe-user)
    * row's latest emission, and the oracle rebuilds the identical d×w
    * sketch relationally over the full events table (q257's spelling
    * on the user-id universe) — hash-equality proves linear mergeability
    * end to end. */
  def cmStreamParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q270", Rocks) { h =>
      runCmHarness(h, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "user_id").orderBy(col("n_seen").desc)
      h.output
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_type", "user_id", "n_exact", "n_est")
        .orderBy("event_type", "user_id")
        .localCheckpoint()
    }

  /** The q270/q319 harness body: the two event-id-parity slices staged
    * mtime-ordered, the CM stream run to completion on a fresh
    * checkpoint, emissions appended under `out/`. */
  private def runCmHarness(h: Staged, dir: String): Unit = {
    stageSlices(h, stagedEvents(h.s, dir), idParity)
    h.await(h.appendEach(cmStream(typedInBatches(h)).toDF(),
      OutputMode.Update()))
  }

  /** q319 — COMPOSITE-STATE (MapState) READ-BACK, the thirtieth
    * streaming surface: q309/q312/q317 read a ValueState checkpoint;
    * this reads a MAP state variable — the q270 Count-Min sketch's
    * full d×w counter matrix per event-type key — back as one row per
    * populated cell (`flattenCollectionTypes`), and hash-matches the
    * oracle that rebuilds the identical counters relationally from raw
    * events (q257's plane spelling). The additive-merge property makes
    * this deterministic: whatever the micro-batch slicing, the final
    * matrix is the column-sum of the whole stream. One lost increment,
    * one counter attributed to the wrong (j, bucket) cell, or a stale
    * snapshot breaks the hash — and unlike q270's probe-row emissions
    * (which sample the sketch at |probe| points), this check covers
    * EVERY populated cell of the live state.
    *
    * Shape at 100 TB: the audit reads O(populated cells) per key from
    * the latest snapshot — no stream replay — the same forensics
    * primitive as q309 extended to Spark 4's collection state types. */
  def cmStateRead(s: SparkSession, dir: String): DataFrame =
    staged(s, "q319", Rocks) { h =>
      runCmHarness(h, dir)
      val st = s.read.format("statestore")
        .option("path", h.ckpt)
        .option("stateVarName", "cm")
        .option("flattenCollectionTypes", "true")
        .load()
      st.select(col("key.value").as("event_type"),
          col("user_map_key.value").as("cell"),
          col("user_map_value.value").as("counter"))
        .orderBy("event_type", "cell")
        .localCheckpoint()
    }

  final case class RateState(tok: Long, lastMs: Long, seen: Long,
                             adm: Long, rej: Long)
  final case class RateRow(user_id: Long, n_seen: Long, n_admitted: Long,
                           n_rejected: Long, tokens_left: Long)

  val RateCap = 5L
  val RefillMs = 10000L

  /** Per-user TOKEN-BUCKET RATE LIMITER — the quota-enforcement state
    * shape (API limits, abuse gates, crawler politeness) that no
    * window or aggregate expresses: admission depends on the FULL
    * prior admission history. Bucket of [[RateCap]] tokens, one token
    * refilled per [[RefillMs]] (quantized: the clock only advances in
    * whole refill epochs, so state is three integers and every step is
    * exact integer arithmetic — no float drift possible). Events fold
    * in (event-time, event_id) order within each batch; the harness
    * feeds time-ordered slices, so the fold carries across batch
    * boundaries exactly (a replayed log's arrival contract). Emits one
    * cumulative (seen, admitted, rejected, tokens-left) row per user
    * per batch. */
  def rateLimiter(events: Dataset[Event]): Dataset[RateRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, RateRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (userId, evs, state: GroupState[RateState]) =>
          val sorted = evs.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val ms = tsMicros(e.ts) / 1000L
            st =
              if (st == null) RateState(RateCap - 1, ms, 1L, 1L, 0L)
              else {
                val refill = (ms - st.lastMs) / RefillMs
                require(refill >= 0,
                  s"out-of-order arrival for user $userId — the " +
                    "time-sliced harness contract was violated")
                val tok2 = math.min(RateCap, st.tok + refill)
                val last2 = st.lastMs + refill * RefillMs
                if (tok2 >= 1)
                  RateState(tok2 - 1, last2, st.seen + 1, st.adm + 1,
                    st.rej)
                else
                  RateState(tok2, last2, st.seen + 1, st.adm,
                    st.rej + 1)
              }
          }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            Iterator.single(
              RateRow(userId, st.seen, st.adm, st.rej, st.tok))
          }
      }
  }

  /** q284 — RATE-LIMITER parity, the twenty-first streaming surface:
    * two time-ordered slices (day ≤ 15, then the rest — the events
    * fixture spans one month) split every user's admission history
    * across a batch boundary, so a correct result REQUIRES the
    * (tokens, clock) state to carry the fold. Batch side keeps each
    * user's latest cumulative row; the oracle evaluates the identical
    * integer recursion as a DuckDB RECURSIVE CTE (the q194 pattern
    * with three state integers instead of one double). */
  def rateLimiterParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q284", Parts8) { h =>
      stageSlices(h, stagedEvents(s, dir),
        Seq(dayofmonth(col("ts")) <= 15, dayofmonth(col("ts")) > 15))
      h.await(h.appendEach(rateLimiter(typedInBatches(h)).toDF(),
        OutputMode.Append()))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_seen").desc)
      h.output
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "n_seen", "n_admitted", "n_rejected",
          "tokens_left")
        .orderBy("user_id")
        .localCheckpoint()
    }

  /** Session accumulator for the timer-closed sessionizer: the
    * [[SessionState]] conventions (µs event times, fixed-point 1e-4
    * sum) plus the ms timestamp of the currently registered event-time
    * timer (0 = none) so a re-registration can delete its predecessor
    * exactly — a stale timer left behind would fire after the session
    * extended and close it early. */
  final case class TimedSession(start: Long, lastTs: Long, nEvents: Long,
                                sumScaled: Long, timerMs: Long)

  /** Gap sessionization where the trailing session is closed by a
    * REGISTERED EVENT-TIME TIMER — the remaining Spark-4 stateful
    * primitive after the q253/q260/q261 state-type triad
    * (TimeMode.EventTime + registerTimer/handleExpiredTimer instead of
    * TimeMode.None). In-batch closures (an arriving event whose gap
    * exceeds `gapMs`) emit from handleInputRows, exactly like
    * [[sessionize]]; the timer path is LOAD-BEARING for every session
    * the data never closes — each batch re-registers a timer at
    * lastTs + gap + 1 ms, and when the watermark passes it,
    * handleExpiredTimer emits the session and clears state. Without
    * the timer callback every user's trailing session would be missing
    * and the q50 hash would fail.
    *
    * Early-closure safety: the timer fires only once the watermark
    * passes lastTs + gap, and any event that could still merge has
    * ts ≤ lastTs + gap — below the watermark, so the engine would have
    * dropped it as late anyway. Timer expiry and late-drop are fenced
    * by the SAME watermark, which is what makes event-time timers
    * correct under reordering. */
  class SessionTimerProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Event, UserSession] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[TimedSession] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
        : Unit =
      st = getHandle.getValueState[TimedSession]("session",
        org.apache.spark.sql.Encoders.product[TimedSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    private def emit(key: Long, c: TimedSession): UserSession =
      UserSession(key, microsTs(c.start), microsTs(c.lastTs), c.nEvents,
        c.sumScaled / 1e4)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserSession] = {
      val sorted = rows.toArray.sortBy(e => (tsMicros(e.ts), e.event_id))
      val out = scala.collection.mutable.ListBuffer.empty[UserSession]
      var cur: TimedSession = if (st.exists()) st.get() else null
      sorted.foreach { e =>
        val t = tsMicros(e.ts)
        if (cur == null) cur = TimedSession(t, t, 0, 0L, 0L)
        else if (t - cur.lastTs > gapMs * 1000L) {
          out += emit(key, cur)
          // carry timerMs: ONE delete below covers the whole batch
          cur = TimedSession(t, t, 0, 0L, cur.timerMs)
        }
        cur = cur.copy(lastTs = t, nEvents = cur.nEvents + 1,
          sumScaled = cur.sumScaled + math.rint(e.value * 1e4).toLong)
      }
      if (cur != null) {
        if (cur.timerMs > 0) getHandle.deleteTimer(cur.timerMs)
        // +1 ms past the merge horizon: an event at exactly lastTs+gap
        // (which still merges) sits below the expiry, not at it
        val timer = math.floorDiv(cur.lastTs, 1000L) + gapMs + 1L
        getHandle.registerTimer(timer)
        st.update(cur.copy(timerMs = timer))
      }
      out.iterator
    }
    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[UserSession] = {
      // the timerMs guard is defense-in-depth: deleteTimer above should
      // make a stale expiry impossible
      if (st.exists() && st.get().timerMs == info.getExpiryTimeInMs) {
        val closed = emit(key, st.get())
        st.clear()
        Iterator.single(closed)
      } else Iterator.empty
    }
  }

  /** q264 — EVENT-TIME-TIMER parity, the nineteenth streaming surface:
    * [[SessionTimerProcessor]] run over time-ordered slices + TWO
    * far-future sentinels, against q50's batch gaps-and-islands oracle
    * UNMODIFIED (the q234 bar: trailing sessions included — here they
    * exist in the output only because the timers fired).
    *
    * Staging slices split at the TIME MIDPOINT, not event_id parity:
    * with an event-time watermark, id-interleaved slices would put
    * every second-batch event below the first batch's watermark and
    * the engine would drop them as late. Time-ordered slices keep
    * every arrival ahead of the watermark (slice-1 events are ≥ mid
    * while the watermark trails at mid − 2 h), so nothing is dropped
    * and the cross-batch fold + timer closures must reproduce the
    * batch session set exactly. Two sentinels because TWS fires no
    * timers in a trailing no-data batch (see the staging comment).
    *
    * Shape at 100 TB: state is one open session + one timer per user
    * within the watermark horizon — RocksDB-backed, keyed by the
    * shuffle; timers are range-scanned per partition. Swap
    * [[kafkaSource]] in and drop the staging. */
  def timerSessionParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q264", Rocks + (NoDataKey -> "true")) { h =>
      import s.implicits._
      val events = stagedEvents(s, dir)
      val bounds = events.agg(min("ts"), max("ts")).head()
      val (minTs, maxTs) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
      val mid = new java.sql.Timestamp(
        (minTs.getTime + maxTs.getTime) / 2)
      // the two slice writes and the two 1-row sentinel writes are four
      // independent staging jobs — ONE wave (guide §2.6); micro-batch
      // ordering is carried by the explicit mtimes, never by completion
      // order
      val sliceWork =
        Seq(("aa", col("ts") < lit(mid)), ("bb", col("ts") >= lit(mid)))
          .zipWithIndex.map { case ((nm, pred), i) => () => {
            val stage = h.dir.resolve(s"stage$nm")
            events.filter(pred).coalesce(1)
              .write.mode("overwrite").parquet(stage.toString)
            moveOnlyParquet(stage, h.in.resolve(s"$nm-slice.parquet"),
              1000000000000L + i * 60000L)
          } }
      // TWO sentinels: unlike the windowed-aggregation surfaces, a TWS
      // query under AvailableNow does not run a timer-firing no-data
      // batch after the last file — the watermark a sentinel advances
      // is only CONSUMED by the next real batch. Sentinel 1 (+7 d)
      // raises the watermark past every real timer; sentinel 2 (+14 d)
      // is the batch those timers actually fire in. And the sentinel
      // rows must NOT be pre-filtered before the processor: a
      // user_id filter doesn't reference ts, so Catalyst pushes it
      // BELOW the EventTimeWatermark node and the sentinel would never
      // reach the watermark operator (observed: watermark pinned at
      // the last real slice). The −1 sessions are dropped on read-back
      // instead, the q234 convention.
      val sentinelWork = Seq(("zy", 7L, -1L), ("zz", 14L, -2L)).zipWithIndex
        .map { case ((nm, days, eid), i) => () => {
          val stage = h.dir.resolve(s"sentinel$nm")
          sentinel(s, maxTs, days, eid)
            .coalesce(1).write.mode("overwrite").parquet(stage.toString)
          moveOnlyParquet(stage, h.in.resolve(s"$nm-sentinel.parquet"),
            1000000000000L + 120000L + i * 60000L)
        } }
      graft.sources.Tables.wave(sliceWork ++ sentinelWork)
      val ds = inBatches(h)
        .withWatermark("ts", "2 hours")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event]
      val sessions = ds.groupByKey(_.user_id)
        .transformWithState(new SessionTimerProcessor(gapMs = 7200000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[UserSession])
      h.await(h.appendEach(sessions.toDF(), OutputMode.Append()))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_start")
      h.output
        .filter(col("user_id") =!= -1L) // the sentinels' own sessions
        .withColumn("session_idx",
          row_number().over(w).cast(IntegerType))
        .select(col("user_id"), col("session_idx"), col("session_start"),
          col("session_end"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_idx")
        .localCheckpoint()
    }

  final case class EvoAggV1(n: Long, sumScaled: Long)
  final case class EvoAggV2(n: Long, sumScaled: Long,
                            maxV: Option[Double])
  final case class EvoTotals(user_id: Long, n: Long, sum_value: Double,
                             max_v_since_upgrade: Option[Double])

  /** The V1 job: per-user running (count, exact-scaled sum) — the
    * schema a stateful service shipped FIRST. Emits max_v as absent. */
  class EvoV1Processor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Event, EvoTotals] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[EvoAggV1] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
        : Unit =
      st = getHandle.getValueState[EvoAggV1]("agg",
        org.apache.spark.sql.Encoders.product[EvoAggV1],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[EvoTotals] = {
      var a = if (st.exists()) st.get() else EvoAggV1(0L, 0L)
      rows.foreach { e =>
        a = EvoAggV1(a.n + 1,
          a.sumScaled + math.rint(e.value * 10000.0).toLong) }
      st.update(a)
      Iterator.single(EvoTotals(key, a.n, a.sumScaled / 10000.0, None))
    }
  }

  /** The V2 job: SAME state variable name, EVOLVED schema — a nullable
    * max field added (Avro evolution fills it with null when reading
    * V1 bytes). The upgraded metric starts counting at the upgrade,
    * which is exactly what adding a field to live state means. */
  class EvoV2Processor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Event, EvoTotals] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[EvoAggV2] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
        : Unit =
      st = getHandle.getValueState[EvoAggV2]("agg",
        org.apache.spark.sql.Encoders.product[EvoAggV2],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[EvoTotals] = {
      var a = if (st.exists()) st.get() else EvoAggV2(0L, 0L, None)
      rows.foreach { e =>
        val mx = a.maxV match {
          case Some(m) => Some(math.max(m, e.value))
          case None    => Some(e.value)
        }
        a = EvoAggV2(a.n + 1,
          a.sumScaled + math.rint(e.value * 10000.0).toLong, mx) }
      st.update(a)
      Iterator.single(
        EvoTotals(key, a.n, a.sumScaled / 10000.0, a.maxV))
    }
  }

  /** q308 — STATE SCHEMA EVOLUTION parity, the twenty-fifth streaming
    * surface and the operational capstone: a stateful job UPGRADED in
    * place. Run 1 processes the day≤15 half with [[EvoV1Processor]]
    * (state = count + exact-scaled sum); the job stops; run 2 resumes
    * the SAME checkpoint over the day>15 half with [[EvoV2Processor]],
    * whose state schema ADDS a nullable max field — the Avro state
    * encoding (`spark.sql.streaming.stateStore.encodingFormat=avro`)
    * reads every V1 record with the added field null, so no key loses
    * its count/sum history and the new metric begins at the upgrade.
    * The oracle encodes that exact semantics: totals over the whole
    * table, max over day>15 only, NULL for users the upgrade never
    * saw. A dropped key, a zeroed counter, or a max computed over
    * pre-upgrade events would each break the hash.
    *
    * Shape at 100 TB: this is how a production TWS job evolves without
    * a state rebuild — per-key state stays O(1), the schema check is
    * per-variable metadata, and old records upgrade lazily on read. */
  def stateEvolutionParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q308", Evo) { h =>
      runEvoHarness(h, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n").desc)
      h.output
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1) // the latest (highest-n) emission
        .select("user_id", "n", "sum_value", "max_v_since_upgrade")
        .orderBy("user_id")
        .localCheckpoint()
    }

  /** The q308/q309/q312/q317 two-run harness body: stage the day≤15
    * half, run [[EvoV1Processor]] to completion on a fresh checkpoint,
    * stage the day>15 half, resume the SAME checkpoint with
    * [[EvoV2Processor]]. Emissions append under `out/`. Both queries
    * have terminated when this returns. */
  private def runEvoHarness(h: Staged, dir: String): Unit = {
    import h.s.implicits._
    val events = stagedEvents(h.s, dir)
    def run(proc: org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, EvoTotals]): StreamingQuery =
      h.appendEach(typedInBatches(h).groupByKey(_.user_id)
        .transformWithState(proc,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[EvoTotals])
        .toDF(), OutputMode.Update())
    // ---- run 1: the V1 job over the first half-month
    val stage1 = h.dir.resolve("stage1")
    events.filter(dayofmonth(col("ts")) <= 15)
      .coalesce(1).write.mode("overwrite").parquet(stage1.toString)
    moveOnlyParquet(stage1, h.in.resolve("aa-half1.parquet"),
      mtimeMs = 1000000L)
    val v1 = run(new EvoV1Processor)
    // guide §2.6 (round-17): run 1 executes asynchronously — stage the
    // second half INTO ITS STAGING DIR on the main thread while the V1
    // micro-batches run. Only the move into `in/` waits for run 1, so
    // the restart semantics (file lands while no job runs) and the
    // run-1 file snapshot are untouched.
    val stage2 = h.dir.resolve("stage2")
    events.filter(dayofmonth(col("ts")) > 15)
      .coalesce(1).write.mode("overwrite").parquet(stage2.toString)
    h.await(v1, "V1 run")
    // ---- the upgrade deploys; the rest of the month lands
    moveOnlyParquet(stage2, h.in.resolve("mm-half2.parquet"),
      mtimeMs = 1060000L)
    // ---- run 2: the V2 job resumes the same checkpoint
    h.await(run(new EvoV2Processor), "V2 run")
  }

  /** q309 — STATE-STORE READER, the twenty-sixth streaming surface and
    * the operational audit primitive the 25 write-side surfaces leave
    * uncovered: after the q308 evolution harness (V1 run, upgrade, V2
    * resume on one checkpoint), the RocksDB checkpoint itself is read
    * BACK as a batch DataFrame through Spark 4's state data source —
    * `state-metadata` for the operator topology (how many state
    * shards, which batch committed last) and `statestore` with
    * `stateVarName=agg` for every key's live state — answering "what
    * is in state right now?" with zero job-code changes and zero
    * replay of the input. The oracle recomputes the expected
    * post-upgrade state from the raw events table: per-key totals over
    * the whole month, the added max metric over the post-upgrade half
    * only, NULL for keys the V2 job never re-touched (their V1 Avro
    * bytes read under the evolved schema), and the harness topology
    * pinned as literals (8 state shards, final batch id 1). A dropped
    * key, a stale pre-upgrade snapshot, a wrong shard count, or a
    * phantom extra batch each break the hash.
    *
    * Shape at 100 TB: the state source reads each shard's RocksDB
    * snapshot in parallel — one task per state partition, no stream
    * replay — which is the production path for state audits, offline
    * backfills, and migrations of live streaming state. */
  /** q312 — STATE CHANGE FEED, the twenty-seventh streaming surface
    * and q309's CDC complement: where q309 reads the snapshot ("what
    * is in state NOW"), this reads the checkpoint's per-batch
    * changelog ("what did each batch DO to state") — Spark 4's state
    * source with `readChangeFeed` over batch ids 0..1 of the q308
    * evolution harness, decoding both eras of the changelog in one
    * frame. Expected rows, all encoded by the oracle from raw events:
    * batch 0 emits one `update` per day≤15 user carrying its V1 state
    * (first-half totals, the evolved max field null — V1 changelog
    * bytes read under the V2 Avro schema); batch 1 emits one `update`
    * per day>15 user carrying the post-upgrade state (whole-month
    * cumulative totals + the max since the upgrade). A phantom delete,
    * a re-emitted unchanged key, or a batch-0 record that leaked
    * post-upgrade data each break the hash. Changelog checkpointing is
    * enabled on the harness (the production default for large state:
    * per-batch deltas upload instead of full RocksDB snapshots) — it
    * is what makes the feed readable at all.
    *
    * Shape at 100 TB: the change feed reads only the per-batch deltas
    * (O(changed keys), not O(state)) — the primitive for downstream
    * CDC, incremental materialization off a streaming job's state, and
    * state-regression forensics between two batches. */
  def stateChangeFeed(s: SparkSession, dir: String): DataFrame =
    staged(s, "q312", Evo) { h =>
      runEvoHarness(h, dir)
      val cf = s.read.format("statestore")
        .option("path", h.ckpt)
        .option("stateVarName", "agg")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .option("changeEndBatchId", "1")
        .load()
      cf.select(col("batch_id"), col("change_type"),
          col("key.value").as("user_id"),
          col("value.n").as("n"),
          (col("value.sumScaled") / 10000.0).as("sum_value"),
          col("value.maxV").as("max_v_since_upgrade"))
        .orderBy("user_id", "batch_id")
        .localCheckpoint()
    }

  /** q317 — STATE TIME TRAVEL, completing the reader triad (q309 =
    * state NOW, q312 = what each batch DID, this = state AS OF a past
    * batch): the q308 checkpoint read with `batchId = 0`, i.e. the
    * store as the V1 job left it BEFORE the upgrade — per-key
    * first-half totals only. Time travel is SCHEMA time travel too:
    * the reader resolves the state schema in effect AT that batch
    * from the checkpoint's schema history, so the returned value
    * struct is the V1 shape `(n, sumScaled)` with NO evolved max
    * field at all (asserted by the spec). The oracle recomputes
    * exactly the day≤15 state from raw events; a key leaked from
    * batch 1, a post-upgrade value bleeding backwards, or a
    * second-half count each break the hash. Changelog checkpointing
    * makes the reconstruction cheap: version 1 = base snapshot + one
    * changelog replay, no stream re-run.
    *
    * Shape at 100 TB: as-of reads are the state-regression forensics
    * primitive ("what did user X's register hold before the deploy?")
    * and the input to offline state diffing — O(state at that version)
    * with one task per shard, no replay of the input stream. */
  def stateTimeTravel(s: SparkSession, dir: String): DataFrame =
    staged(s, "q317", Evo) { h =>
      runEvoHarness(h, dir)
      val st = s.read.format("statestore")
        .option("path", h.ckpt)
        .option("stateVarName", "agg")
        .option("batchId", "0")
        .load()
      // schema time travel, asserted: the value struct at batch 0 is
      // the V1 shape — the evolved field must not exist yet
      val fields = st.select(col("value.*")).schema.fieldNames.toSeq
      require(fields == Seq("n", "sumScaled"),
        s"batch-0 state must carry the V1 schema, got $fields")
      st.select(col("key.value").as("user_id"),
          col("value.n").as("n"),
          (col("value.sumScaled") / 10000.0).as("sum_value"))
        .orderBy("user_id")
        .localCheckpoint()
    }

  def stateStoreRead(s: SparkSession, dir: String): DataFrame =
    staged(s, "q309", Evo) { h =>
      runEvoHarness(h, dir)
      // 1-row topology frame: shard count + last committed batch id
      val meta = s.read.format("state-metadata").load(h.ckpt)
        .filter(col("operatorName") === "transformWithStateExec")
        .select(col("numPartitions").cast(IntegerType)
            .as("n_state_shards"),
          col("maxBatchId").cast(LongType).as("last_batch"))
      val st = s.read.format("statestore")
        .option("path", h.ckpt)
        .option("stateVarName", "agg")
        .load()
      st.select(col("key.value").as("user_id"),
          col("value.n").as("n"),
          (col("value.sumScaled") / 10000.0).as("sum_value"),
          col("value.maxV").as("max_v_since_upgrade"))
        .crossJoin(broadcast(meta))
        .orderBy("user_id")
        .localCheckpoint()
    }

  final case class TtlDurable(appear: Long, n: Long, sumScaled: Long)
  final case class TtlEphemeral(n: Long, sumScaled: Long)
  final case class TtlCacheRow(user_id: Long, appear_idx: Int,
      warm_durable: Int, n_total: Long, sum_total: Double,
      n_since_evict: Long, sum_since_evict: Double)

  /** Two per-key registers under DIFFERENT TTLs — the state-lifecycle
    * primitive the TWS triad + timers left uncovered (every prior
    * surface runs TTLConfig.NONE): a 60-minute "profile" register that
    * survives the harness's inter-run gap, and a 5-second "session
    * cache" register the same gap deterministically evicts. Both fold
    * the identical counts/sums, so the divergence between n_total and
    * n_since_evict in a warm batch is PURELY the TTL's doing. TTL is
    * processing-time by definition (Spark validates it against
    * TimeMode.ProcessingTime), so determinism comes from the harness
    * margins, not the data — see [[ttlStateParity]]. */
  class TtlCacheProcessor(durableTtl: java.time.Duration,
                          ephemeralTtl: java.time.Duration)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Event, TtlCacheRow] {
    @transient private var durable:
      org.apache.spark.sql.streaming.ValueState[TtlDurable] = _
    @transient private var ephem:
      org.apache.spark.sql.streaming.ValueState[TtlEphemeral] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
        : Unit = {
      durable = getHandle.getValueState[TtlDurable]("durable",
        org.apache.spark.sql.Encoders.product[TtlDurable],
        org.apache.spark.sql.streaming.TTLConfig(durableTtl))
      ephem = getHandle.getValueState[TtlEphemeral]("ephem",
        org.apache.spark.sql.Encoders.product[TtlEphemeral],
        org.apache.spark.sql.streaming.TTLConfig(ephemeralTtl))
    }
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TtlCacheRow] = {
      var nb = 0L; var sb = 0L
      rows.foreach { e =>
        nb += 1; sb += math.rint(e.value * 1e4).toLong }
      val d0 = if (durable.exists()) durable.get() else TtlDurable(0, 0, 0)
      val e0 = if (ephem.exists()) ephem.get() else TtlEphemeral(0, 0)
      val d1 = TtlDurable(d0.appear + 1, d0.n + nb, d0.sumScaled + sb)
      val e1 = TtlEphemeral(e0.n + nb, e0.sumScaled + sb)
      durable.update(d1)
      ephem.update(e1)
      Iterator.single(TtlCacheRow(key, d1.appear.toInt,
        if (d0.appear > 0) 1 else 0, d1.n, d1.sumScaled / 1e4,
        e1.n, e1.sumScaled / 1e4))
    }
  }

  /** How long the harness waits between the two runs; must exceed
    * [[TtlEphemeralMs]] with margin (2.5× here — and a host stall
    * only GROWS the gap, so the margin is one-sided). Trimmed from
    * 12 s / 5 s in round 13, to 2.5 s / 1 s in round 16, and to
    * 1.25 s / 0.5 s in round 17: the determinism argument only needs
    * gap > ttl (one-sided; run-2 startup adds further margin on top of
    * the sleep), the ratio stays 2.5×, and intra-run eviction is
    * impossible regardless of ttl because each run stages exactly ONE
    * file (one batch — state written in run 1 is first READ again in
    * run 2, after the gap). */
  val TtlGapMs = 1250L
  val TtlEphemeralMs = 500L

  /** q297 — STATE-TTL parity, the twenty-third streaming surface and
    * the last Spark-4 stateful primitive (after the q253/q260/q261
    * state-type triad and q264's timers): per-key state under TTL
    * eviction, proven against a batch oracle that encodes the same
    * eviction horizon.
    *
    * Harness: the day≤15 / day>15 event halves land as two runs of the
    * SAME checkpointed AvailableNow query (the q143 restart pattern),
    * with a [[TtlGapMs]] pause between them. Run 2's batch therefore
    * executes > [[TtlEphemeralMs]] after run 1 wrote its state: the
    * ephemeral register is evicted for EVERY key (its TTL clock starts
    * at run 1's update and nothing refreshes it during the pause),
    * while the 60-minute durable register survives. Determinism is
    * one-sided margins, not luck: eviction needs gap > ttl (5 s vs
    * 2 s — and the gap only grows if the host stalls), survival needs
    * total wall clock < 60 min; neither bound depends on micro-batch
    * scheduling inside a run, because each run stages exactly ONE file
    * (one batch — no intra-run TTL exposure). Output: one row per
    * (user, appearance) with the durable cumulative fold next to the
    * post-eviction fold; for every day≤15 user re-appearing after the
    * gap, n_total ≠ n_since_evict is the VISIBLE TTL effect, and
    * warm_durable = 1 proves the other register did not evict.
    *
    * Shape at 100 TB: TTL is the mechanism that keeps a production
    * TWS job's RocksDB bounded when the key space churns (inactive
    * keys age out instead of accumulating forever); per-key state here
    * is O(1), eviction is the store's range-scan on expiry timestamps,
    * and the surface swaps to [[kafkaSource]] by dropping the
    * staging. */
  def ttlStateParity(s: SparkSession, dir: String): DataFrame =
    // no-data micro-batches must be OFF here: with TTL state in
    // ProcessingTime mode the operator always reports "might have work
    // as time advances", so AvailableNow would loop empty batches
    // forever instead of terminating (observed: 600+ empty jobs until
    // the await timeout). TTL doesn't need them — expiry is evaluated
    // on READ, so run 2's real batch sees the eviction regardless.
    staged(s, "q297", Rocks + (NoDataKey -> "false")) { h =>
      import s.implicits._
      val events = stagedEvents(s, dir)
      // both runs must build the IDENTICAL plan for checkpoint
      // compatibility — one definition, invoked twice
      def run(): StreamingQuery =
        h.appendEach(typedInBatches(h).groupByKey(_.user_id)
          .transformWithState(
            new TtlCacheProcessor(
              java.time.Duration.ofMinutes(60),
              java.time.Duration.ofMillis(TtlEphemeralMs)),
            org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
            OutputMode.Append(),
            org.apache.spark.sql.Encoders.product[TtlCacheRow])
          .toDF(), OutputMode.Append())
      // ---- run 1: the first half-month, one file = one batch
      val stage1 = h.dir.resolve("stage1")
      events.filter(dayofmonth(col("ts")) <= 15)
        .coalesce(1).write.mode("overwrite").parquet(stage1.toString)
      moveOnlyParquet(stage1, h.in.resolve("aa-half1.parquet"),
        mtimeMs = 1000000L)
      val q1 = run()
      // guide §2.6 (round-17): stage the second half while run 1's
      // micro-batch executes — the file enters `in/` only after the
      // gap, so run boundaries and the TTL clock are untouched (the
      // eviction gap is measured AFTER run 1 commits, as before; a
      // stall can only grow it — the margin stays one-sided)
      val stage2 = h.dir.resolve("stage2")
      events.filter(dayofmonth(col("ts")) > 15)
        .coalesce(1).write.mode("overwrite").parquet(stage2.toString)
      h.await(q1, "run 1")
      // ---- the eviction gap: > ephemeral TTL, ≪ durable TTL
      Thread.sleep(TtlGapMs)
      // ---- run 2: the rest, resumed from the same checkpoint
      moveOnlyParquet(stage2, h.in.resolve("mm-half2.parquet"),
        mtimeMs = 1060000L)
      h.await(run(), "run 2")
      h.output
        .select(col("user_id"), col("appear_idx"), col("warm_durable"),
          col("n_total"), col("sum_total"), col("n_since_evict"),
          col("sum_since_evict"))
        .orderBy("user_id", "appear_idx")
        .localCheckpoint()
    }

  /** q111 — oracle-checked streaming-DEDUP parity, closing the fourth
    * stateful streaming surface (q85 = aggregation, q107 = merge, q109 =
    * join, this = keyed dedup): the staged events copy is polluted with a
    * deterministic duplicate set — every `event_id % 10 == 0` row
    * re-delivered bit-identically, the at-least-once regime
    * [[dedupStream]] exists for — then streamed through
    * `dropDuplicatesWithinWatermark`, sinked, read back, and aggregated
    * per hour × event_type. The oracle is that aggregate over the
    * ORIGINAL events table (q85's SQL verbatim): hash-equality proves
    * the operator removed exactly the injected re-deliveries and nothing
    * else (a kept duplicate doubles an hourly count; a dropped original
    * loses one — either breaks the hash). `event_id` is unique in the
    * source (verified at both SFs), so "remove re-deliveries" and
    * "distinct" coincide. No sentinel staging: dedup emits surviving
    * rows in their arrival batch — the watermark only bounds state, so
    * one AvailableNow pass yields every survivor. Dedup keeps one keyed
    * state store per shuffle partition; like q109 the stateful shuffle
    * is sized to the fixture (production sizes the same conf to key
    * cardinality per watermark horizon). */
  def dedupParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q111", Parts8) { h =>
      val events = stagedEvents(s, dir)
      // ONE staged file: both copies of each duplicated row share the
      // single micro-batch (first arrival survives, re-delivery drops)
      // and the multi-part mtime-ordering hazard never arises
      events.union(events.filter(col("event_id") % 10 === 0))
        .coalesce(1).write.mode("overwrite").parquet(h.in.toString)
      h.await(h.sink(dedupStream(fileSource(s, h.in.toString))))
      // batch-side aggregate over the survivors (q85's shape; DECIMAL-
      // routed sum so accumulation order can't perturb the hash)
      h.output
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
            .as("sum_value"))
        .orderBy("hour_start", "event_type")
        .localCheckpoint()
    }

  /** q115 — stream-STATIC enrichment parity (fifth streaming surface:
    * q85 = aggregation, q107 = merge, q109 = stream-stream join, q111 =
    * keyed dedup, this = the dimension-enrichment join every production
    * pipeline runs first): the linked events stream is joined per
    * micro-batch against the STATIC customer dimension — `broadcast()`d,
    * so each micro-batch plans a BroadcastHashJoin with ZERO shuffle and
    * ZERO streaming state (stream-static inner joins are stateless by
    * definition: rows emit in their arrival batch, nothing is retained).
    * The enriched rows are checkpoint-sinked, read back, and aggregated
    * per nation batch-side; the oracle is the same join+aggregate in
    * DuckDB over the original tables. At 100 TB this is the canonical
    * fact-stream × dim-table shape: the dim re-broadcasts per batch (and
    * can be refreshed between batches), the fact side never shuffles. */
  def streamStaticJoinParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q115") { h =>
      val dim = broadcast(graft.sources.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")))
      val enriched = h.linkedEvents(dir)
        .join(dim, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_nationkey"),
          col("event_type"), col("value"))
      h.await(h.sink(enriched))
      h.output
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
            .as("sum_value"))
        .orderBy("nation")
        .localCheckpoint()
    }

  /** q313 — DEDUP-STATE EVICTION made visible, q111's bounded-state
    * complement and the twenty-eighth streaming surface. q111 proves
    * `dropDuplicatesWithinWatermark` removes re-deliveries inside the
    * horizon; this proves the OTHER half of the bounded-state
    * contract — a key whose dedup state the watermark already evicted
    * is admitted AGAIN, which is exactly the trade that keeps state
    * O(rate × horizon) instead of O(all keys ever seen) on an
    * unbounded firehose. Harness: batch 1 is the day≤15 half; batch 2
    * the day>15 half (it advances the watermark AND hosts the cleanup
    * pass — state eviction runs a batch behind the watermark); batch 3
    * is the eviction probe — every `event_id % 10 == 0` key first seen
    * on day≤10, re-delivered TWICE with its event time shifted +30
    * days (fresh, never late). The probe keys' expiry passed days
    * before the cleanup watermark (one-sided margin: the horizon is
    * hours, the gap is days — and only grows), so the first copy is
    * re-admitted on a RE-CREATED state entry and the second copy
    * dedups against it within the batch. The oracle counts
    * every probe key exactly ONCE at its shifted hour: stale state
    * surviving the horizon makes the probe vanish, a broken re-created
    * entry double-counts it — either breaks the hash.
    *
    * Shape at 100 TB: identical state machinery as q111 — one keyed
    * store per shuffle partition, bounded by the watermark horizon;
    * this surface is the measured proof of WHY that bound is safe to
    * rely on (expired keys really do come back as new). */
  def dedupEvictionParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q313", Parts8) { h =>
      val events = stagedEvents(s, dir)
      // the probe lands one batch AFTER the day>15 half: state cleanup
      // runs a batch BEHIND the watermark (batch N evicts with the
      // watermark batch N−1's data advanced), so the day≤10 entries
      // are only physically gone once batch 2 has committed — a probe
      // sharing batch 2 would still hit its own stale entry
      val replay = events
        .filter(col("event_id") % 10 === 0 &&
          dayofmonth(col("ts")) <= 10)
        .withColumn("ts", col("ts") + expr("INTERVAL 30 DAYS"))
      // three independent staging jobs — one wave (guide §2.6); the
      // micro-batch order is carried by the explicit mtimes
      graft.sources.Tables.wave(Seq(
        () => {
          val stage1 = h.dir.resolve("stage1")
          events.filter(dayofmonth(col("ts")) <= 15)
            .coalesce(1).write.mode("overwrite").parquet(stage1.toString)
          moveOnlyParquet(stage1, h.in.resolve("aa-half1.parquet"),
            mtimeMs = 1000000L)
        },
        () => {
          val stage2 = h.dir.resolve("stage2")
          events.filter(dayofmonth(col("ts")) > 15)
            .coalesce(1).write.mode("overwrite").parquet(stage2.toString)
          moveOnlyParquet(stage2, h.in.resolve("mm-half2.parquet"),
            mtimeMs = 1060000L)
        },
        () => {
          val stage3 = h.dir.resolve("stage3")
          replay.unionByName(replay)
            .coalesce(1).write.mode("overwrite").parquet(stage3.toString)
          moveOnlyParquet(stage3, h.in.resolve("zz-replay.parquet"),
            mtimeMs = 1120000L)
        }))
      h.await(h.sink(dedupStream(inBatches(h))))
      h.output
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
            .as("sum_value"))
        .orderBy("hour_start", "event_type")
        .localCheckpoint()
    }

  /** q135 — oracle-checked LEFT-OUTER interval-join parity: q109 proved
    * the INNER stream-stream join; this proves the outer-join state
    * machine, which is a genuinely different surface — an unmatched left
    * row is emitted with nulls only when BOTH sides' watermarks have
    * passed the point where a match is no longer possible (click_ts +
    * range + delay), i.e. null emission IS watermark-driven state
    * eviction made visible. Staging therefore needs what q109 didn't:
    * one far-future sentinel row PER SIDE (each source filters its own
    * event_type, and the global watermark is the MIN across both inputs
    * — a single-side sentinel would leave the other side's watermark,
    * and so the join's, pinned at real-data time, holding the trailing
    * ~2.5 h of unmatched clicks in state forever). Matched rows emit in
    * the data batch; every unmatched click flushes in the no-data batch
    * once the sentinel-advanced watermark lands (same
    * noDataMicroBatches + filtered-sentinel protocol as q85). The
    * sentinels use distinct users and can never join each other or real
    * rows; the click sentinel's own unmatched row is filtered on
    * read-back. Oracle = the batch LEFT JOIN with NULLS FIRST pinned on
    * both sides (Spark ASC is nulls-first, DuckDB's default is
    * nulls-last). */
  def outerJoinParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q135", Flush) { h =>
      stageWithSideSentinels(h, stagedEvents(s, dir))
      h.await(h.sink(correlateStreams(
        fileSource(s, h.in.toString), fileSource(s, h.in.toString),
        joinType = "left_outer")))
      h.output
        .filter(col("click_id") >= 0)
        .orderBy(col("click_id"), col("error_id").asc_nulls_first)
        .localCheckpoint()
    }

  /** q143 — oracle-checked CHECKPOINT-RESTART parity: q85 proved one
    * continuous AvailableNow run equals the batch aggregate; this proves
    * the same equality across a JOB RESTART — the daily-ingestion
    * pattern where a scheduled run drains what has arrived, exits, and a
    * later run resumes from the same checkpoint when more data lands.
    * The staged copy is split at the time-range midpoint: run 1 sees
    * only the earlier half and terminates (flushing every window the
    * half-data watermark has passed); the later half plus the q85
    * sentinel then land, and run 2 — the identical query resumed from
    * the same checkpoint — processes only the new files, restores the
    * in-flight window state (windows straddling the split get
    * contributions from BOTH runs), and flushes the rest. Hash-equality
    * of the two runs' combined append output against q85's batch oracle
    * proves exactly-once across the restart: a lost state store, a
    * re-processed file, or a dropped in-flight window would each break
    * the hash. Splitting at the midpoint keeps run-2 data strictly
    * later than run 1's watermark, so nothing is (correctly or not)
    * dropped as late — late-data semantics are q85/q111's concern, not
    * the restart's. */
  def incrementalRestartParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q143", Flush) { h =>
      val events = stagedEvents(s, dir)
      val mm = events.agg(min("ts"), max("ts")).head()
      val (minTs, maxTs) = (mm.getTimestamp(0), mm.getTimestamp(1))
      val cut = new java.sql.Timestamp(
        minTs.getTime + (maxTs.getTime - minTs.getTime) / 2)
      // both runs must build the IDENTICAL plan for checkpoint
      // compatibility — one definition, invoked twice
      def run(): StreamingQuery = h.sink(hourlyAgg(inBatches(h)))
      // ---- run 1: the earlier half only
      val stage1 = h.dir.resolve("stage1")
      events.filter(col("ts") <= cut)
        .coalesce(1).write.mode("overwrite").parquet(stage1.toString)
      moveOnlyParquet(stage1, h.in.resolve("aa-half1.parquet"),
        mtimeMs = 1000000L)
      val q1 = run()
      // guide §2.6 (round-17): run 1 executes asynchronously — write the
      // later-half and sentinel files into their STAGING dirs while it
      // runs; the moves into `in/` still happen only after run 1
      // terminates, so "more data lands while no job is running" is
      // exactly as staged before.
      val stage2 = h.dir.resolve("stage2")
      events.filter(col("ts") > cut)
        .coalesce(1).write.mode("overwrite").parquet(stage2.toString)
      val stage3 = h.dir.resolve("sentinel")
      sentinel(s, maxTs, 7L, -1L)
        .coalesce(1).write.mode("overwrite").parquet(stage3.toString)
      h.await(q1, "run 1")
      // ---- more data lands while no job is running
      moveOnlyParquet(stage2, h.in.resolve("mm-half2.parquet"),
        mtimeMs = 1060000L)
      moveOnlyParquet(stage3, h.in.resolve("zz-sentinel.parquet"),
        mtimeMs = 1120000L)
      // ---- run 2: resumed from the same checkpoint
      h.await(run(), "run 2")
      h.output
        .filter(col("event_type") =!= "__watermark_sentinel__")
        .localCheckpoint()
        .orderBy("hour_start", "event_type")
    }

  /** q169 — STREAMING INCREMENTAL DEDUP: the tenth streaming surface, and
    * the one that carries the dedup family into the ingest loop — q153's
    * daily-increment semantics executed as a checkpointed micro-batch
    * job. The staged increment arrives as THREE deterministic files
    * (doc_id % 3 slices, mtime-ordered, maxFilesPerTrigger=1 ⇒ three
    * micro-batches); a foreachBatch maintains the dedup INDEX across
    * batches — the corpus's content hashes (static, the persisted index
    * a production pipeline keeps) plus the hashes ADMITTED earlier in
    * this increment — and classifies each batch against both.
    *
    * Parity is BATCH-SPLIT-INVARIANT by construction: a content is
    * "dup-vs-existing" iff its hash is in the corpus index (per-row,
    * independent of batching); it is "new" the first time it appears
    * among fresh rows — whether its twin sits in the same micro-batch
    * (in-batch rank > 1) or an earlier one (added-index hit), the twin
    * counts as "within-batch extra". The three totals therefore equal
    * q153's single-batch answer exactly, and the ORACLE IS q153's SQL —
    * hash-equality proves the streaming protocol loses/duplicates
    * nothing across micro-batch boundaries. */
  def incrementalDedupStreamParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q169") { h =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val D = graft.dedup.Dedup
      val inc = D.stagedIncrement(s, dir).select("doc_id", "text")
        .localCheckpoint() // three concurrent slice writes read it
      // three independent staging writes — one wave (guide §2.6);
      // micro-batch order is carried by the explicit mtimes
      graft.sources.Tables.wave((0 until 3).map(i => () => {
        val st = h.dir.resolve(s"stage$i")
        inc.filter(pmod(col("doc_id"), lit(3)) === i)
          .coalesce(1).write.mode("overwrite").parquet(st.toString)
        moveOnlyParquet(st, h.in.resolve(f"b$i%02d.parquet"),
          mtimeMs = 1000000L + i * 60000L)
      }))
      // the persisted corpus index: distinct content hashes, computed once
      val index = graft.sources.Tables.load(s, dir, "documents")
        .select(D.normHash(col("text")).as("h")).distinct()
        .localCheckpoint()
      // cross-batch state: counts + the hashes admitted this increment
      val counts = new java.util.concurrent.atomic.AtomicLongArray(4)
      var added = Seq.empty[String].toDF("h").localCheckpoint()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      h.await(h.track(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(h.in.toString)
        .writeStream
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
          val wH = Window.partitionBy("h").orderBy("doc_id")
          val cls = batch
            .select(col("doc_id"), D.normHash(col("text")).as("h"))
            .join(index.withColumn("seen", lit(1)), Seq("h"), "left")
            .join(added.withColumn("prev", lit(1)), Seq("h"), "left")
            .withColumn("rk", row_number().over(wH))
            .withColumn("cls",
              when(col("seen") === 1, "seen")
                .when(col("prev").isNull && col("rk") === 1, "new")
                .otherwise("extra"))
            .localCheckpoint() // two consumers: the counts + the index delta
          // coalesce: an EMPTY micro-batch (a slice with no rows) sums to
          // NULL, and getLong on a null would kill the streaming query
          val a = cls.agg(count(lit(1)),
            coalesce(sum(when(col("cls") === "seen", 1L).otherwise(0L)),
              lit(0L)),
            coalesce(sum(when(col("cls") === "new", 1L).otherwise(0L)),
              lit(0L)),
            coalesce(sum(when(col("cls") === "extra", 1L).otherwise(0L)),
              lit(0L))).head()
          (0 until 4).foreach(i => counts.addAndGet(i, a.getLong(i)))
          added = added.unionByName(
            cls.filter(col("cls") === "new").select("h")).localCheckpoint()
          ()
        }
        .option("checkpointLocation", h.ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()))
      Seq((counts.get(0).toInt, counts.get(1).toInt,
           counts.get(2).toInt, counts.get(3).toInt))
        .toDF("n_incoming", "n_dup_vs_existing", "n_new_contents",
          "n_within_batch_extra")
    }

  /** q147 — streaming QUARANTINE DUAL-SINK: the ninth streaming surface,
    * and the one multi-sink pattern none of the others cover — a
    * foreachBatch that ROUTES each micro-batch into two sinks (clean /
    * quarantine) by the q146 constraint bitmask, with per-batch
    * idempotence from the standard `batch=<id>` overwrite trick: a
    * replayed micro-batch rewrites its own subdirectory instead of
    * appending duplicates, so the dual write is exactly-once without a
    * transaction coordinator. The staged input is the events copy plus
    * deterministic corrupted slices (negative values, unknown event
    * types, one combined slice — the q146 injection pattern). Parity:
    * the union of both sinks' per-(side, mask) rollups must hash-equal
    * the batch routing of the same input — a lost row, a double-routed
    * row, or a row landing on both sides would each break it. Stateless
    * routing ⇒ no watermark, no sentinel staging needed. */
  def quarantineDualSink(s: SparkSession, dir: String): DataFrame =
    staged(s, "q147") { h =>
      val events = stagedEvents(s, dir)
      val staged = events
        .unionAll(events.filter(col("event_id") % 10 === 0)
          .withColumn("value", -col("value") - 1.0))
        .unionAll(events.filter(col("event_id") % 13 === 0)
          .withColumn("event_type", lit("corrupt")))
        .unionAll(events.filter(col("event_id") % 70 === 0)
          .withColumn("value", -col("value") - 1.0)
          .withColumn("event_type", lit("corrupt")))
      staged.coalesce(1).write.mode("overwrite").parquet(h.in.toString)
      val clean = h.dir.resolve("clean").toString
      val quar = h.dir.resolve("quarantine").toString
      val src = fileSource(s, h.in.toString)
      h.await(h.track(src.writeStream
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                         batchId: Long) =>
          routeBatch(batch, batchId, clean, quar)
        }
        .option("checkpointLocation", h.ckpt)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()))
      // both sides read back with the routed batches' own schema: no
      // inference job (the `batch=<id>` dirs still add their column)
      val routed = withReasonMask(src).schema
      val sides =
        s.read.schema(routed).parquet(clean).drop("batch")
          .withColumn("side", lit("clean"))
          .unionByName(s.read.schema(routed).parquet(quar).drop("batch")
            .withColumn("side", lit("quarantine")))
      sides.groupBy("side", "reason_mask")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
            .as("sum_value"))
        .orderBy("side", "reason_mask")
        .localCheckpoint()
    }

  /** One q147 micro-batch route — factored out (the [[mergeBatch]]
    * precedent) so replay idempotence is directly testable: a Spark
    * restart re-delivers the last uncommitted batch with the SAME
    * batchId, and because each side writes `batch=<id>` with overwrite,
    * re-routing must leave byte-identical sink contents rather than
    * appending duplicates (asserted in StreamingSpec). */
  private[graft] def routeBatch(batch: Dataset[org.apache.spark.sql.Row],
                                batchId: Long, cleanDir: String,
                                quarDir: String): Unit = {
    val m = withReasonMask(batch)
      // the dual write is two actions over this frame — cache it so the
      // micro-batch's source read + mask computation run once, not twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // batch=<id> overwrite = replay-idempotent dual write
      m.filter(col("reason_mask") === 0)
        .write.mode("overwrite").parquet(s"$cleanDir/batch=$batchId")
      m.filter(col("reason_mask") =!= 0)
        .write.mode("overwrite").parquet(s"$quarDir/batch=$batchId")
    } finally { m.unpersist(); () }
  }

  /** q146's constraint bitmask: 1 = negative value, 2 = unknown
    * event_type. */
  private def withReasonMask(df: Dataset[org.apache.spark.sql.Row]): DataFrame =
    df.withColumn("reason_mask",
      when(col("value") < 0, 1).otherwise(0) +
        when(!col("event_type").isin(
          "click", "error", "purchase", "signup", "view"), 2)
          .otherwise(0))

  /** q130 — oracle-checked SESSIONIZATION parity, the sixth and last
    * stateful streaming surface (q85 = aggregation, q107 = merge, q109 =
    * stream-stream join, q111 = keyed dedup, q115 = stream-static join,
    * this = custom flatMapGroupsWithState): [[sessionize]] run
    * AvailableNow over the linked events table with NoTimeout, emitting
    * every CLOSED session — a session closes when a later same-user event
    * exceeds the 2 h gap, which is a pure function of the data, so the
    * emitted set is deterministic. The one non-deterministic piece of the
    * live operator — WHEN the processing-time idle timeout flushes each
    * user's trailing open session — is exactly the piece excluded on both
    * sides: the oracle is q50's batch gaps-and-islands session build
    * minus each user's last session. Per-session sums are exact by the
    * [[SessionState]] fixed-point accumulator, so they hash-match the
    * oracle's DECIMAL(18,4) sums.
    *
    * The stateful shuffle is sized to the fixture like q109/q111 (state
    * store per shuffle partition; production sizes the same conf to
    * concurrent-user cardinality). On a live deployment: swap the file
    * source for [[kafkaSource]] and pass an `idleTimeout` — trailing
    * sessions then flush on idle instead of staying in state. */
  def sessionizeParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q130", Parts8) { h =>
      import s.implicits._
      // the whole table → ONE micro-batch: every user's full event
      // sequence reaches the group function together, so sessions close
      // in-batch and no cross-batch mtime-ordering hazard exists
      val ds = h.linkedEvents(dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Event]
      val sessions = sessionize(ds, gapMs = 7200000L, idleTimeout = None)
      h.await(h.sink(sessions.toDF()))
      h.output.orderBy("user_id", "session_start").localCheckpoint()
    }

  /** q234 — NATIVE session_window() parity, the fourteenth streaming
    * surface and the builtin twin of q130: the same 2-hour-gap
    * sessionization expressed as Spark's `session_window` AGGREGATION
    * (merging event-time windows under a watermark — zero custom state
    * code) instead of flatMapGroupsWithState. Together the two surfaces
    * prove both stateful session paths: q130 grades the
    * escape-hatch-state API, this grades the declarative one Catalyst
    * can optimize and AQE can re-plan.
    *
    * Semantics alignment with the q50 batch oracle (which BREAKS a
    * session only when a gap strictly exceeds 2 h, i.e. a gap of
    * exactly 2 h still merges): session_window merges an event only
    * while its timestamp is strictly inside [start, last+gap), so the
    * gap is 2 h + 1 µs — the smallest event-time quantum — making the
    * merge predicate `diff ≤ 2 h` on both engines. session_start is
    * the window start (min ts); session_end = window end − gap (the
    * max ts, exactly — timestamps are µs-aligned so the subtraction is
    * lossless); per-session sums route through DECIMAL(18,4) (dsum
    * convention). The per-user session_idx is derived on the tiny
    * read-back by one row_number window — ordinal labeling, not
    * session logic.
    *
    * Harness: q85's sentinel staging verbatim (one data file + one
    * far-future sentinel, maxFilesPerTrigger=1, watermark at the
    * source, no-data micro-batch flushes the trailing sessions). The
    * sentinel's own session never finalizes and its user_id −1 is
    * filtered on read-back. Oracle: q50's batch SQL, unmodified —
    * the streamed sessions must reproduce the batch gaps-and-islands
    * build EXACTLY, trailing sessions included (q130, lacking a
    * watermark, had to exclude them; the builtin closes that gap).
    *
    * Shape at 100 TB: state is (user, open-session accumulator) bounded
    * by the watermark horizon; the aggregation shuffles on user_id with
    * partial merge per micro-batch — the same plan a 1000-executor
    * cluster runs; swap [[kafkaSource]] in and drop the staging. */
  def sessionWindowParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q234", Flush) { h =>
      stageDataThenSentinel(h, stagedEvents(s, dir))
      val gap = "2 hours 1 microsecond"
      val sessions = inBatches(h)
        .withWatermark("ts", "2 hours")
        .groupBy(col("user_id"), session_window(col("ts"), gap))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType)
            .as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          (col("session_window.end") - expr(s"INTERVAL '$gap'"))
            .as("session_end"),
          col("n_events"), col("sum_value"))
      h.await(h.sink(sessions))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_start")
      h.output
        .filter(col("user_id") =!= -1L)
        .withColumn("session_idx",
          row_number().over(w).cast(IntegerType))
        .select(col("user_id"), col("session_idx"), col("session_start"),
          col("session_end"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_idx")
        .localCheckpoint()
    }

  /** The registry queries this module declares (see [[graft.Query]]).
    * q85's oracle is q21's (the streaming path must reproduce the batch
    * aggregation exactly); q107's is q88's (the streaming merge must
    * reproduce the batch MERGE exactly); q109's is the batch interval
    * join (the streaming join must reproduce it exactly); q111's is
    * q85's again (dedup of injected re-deliveries must restore the
    * original corpus exactly); q115's is the batch dim-enrichment
    * join+aggregate (the per-micro-batch broadcast join must reproduce
    * it exactly); q130's is q50's batch sessionization minus each
    * user's trailing (open) session (the streaming sessionizer must
    * reproduce every closed session exactly). */
  def queries: Seq[Query] = Seq(
    // q21's aggregation run INCREMENTALLY by Structured Streaming (file
    // source → watermark → checkpointed sink → read back); hash-equal to
    // the batch oracle proves streaming/batch parity
    Query("q85_stream_parity", streamingParity _,
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),
    // q88's MERGE executed INCREMENTALLY by the streaming upsert sink
    // (file source → foreachBatch write-then-swap merge → read back);
    // hash-equal to q88's batch oracle proves streaming/batch merge parity
    Query("q107_upsert_parity", upsertParity _,
      """WITH u AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS src FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 1.1, 1 AS src
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY o_orderkey ORDER BY src DESC) AS rn FROM u)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM r WHERE rn = 1 ORDER BY o_orderkey""".stripMargin),
    // the third streaming surface closed: the stream-stream interval join
    // executed incrementally, hash-equal to the batch join oracle
    Query("q109_interval_join_parity", intervalJoinParity _,
      """SELECT c.event_id AS click_id, c.user_id,
        |  CAST(c.ts AS TIMESTAMP) AS click_ts,
        |  e.event_id AS error_id, CAST(e.ts AS TIMESTAMP) AS error_ts
        |FROM events c JOIN events e
        |  ON c.event_type = 'click' AND e.event_type = 'error'
        |  AND c.user_id = e.user_id
        |  AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, error_id""".stripMargin),
    // fourth stateful streaming surface: keyed dedup of injected
    // re-deliveries restores the original corpus exactly (q85's oracle)
    Query("q111_dedup_parity", dedupParity _,
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),
    // fifth streaming surface: per-micro-batch broadcast join against a
    // static dimension (stateless, zero-shuffle), hash-equal to batch
    Query("q115_stream_static_join", streamStaticJoinParity _,
      """SELECT c.c_nationkey AS nation, COUNT(*) AS n,
        |  COUNT(DISTINCT e.user_id) AS users,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY nation""".stripMargin),
    // sixth streaming surface: flatMapGroupsWithState sessionization,
    // every closed session hash-equal to the batch gaps-and-islands build
    Query("q130_sessionize_parity", sessionizeParity _,
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(CAST(ts AS TIMESTAMP))
        |        - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 7200000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
        |      AS session_idx
        |  FROM g),
        |agg AS (
        |  SELECT user_id, session_idx,
        |    CAST(min(ts) AS TIMESTAMP) AS session_start,
        |    CAST(max(ts) AS TIMESTAMP) AS session_end,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM s GROUP BY user_id, session_idx)
        |SELECT user_id, session_start, session_end, n_events, sum_value
        |FROM agg
        |WHERE session_idx < (SELECT max(a2.session_idx) FROM agg a2
        |                     WHERE a2.user_id = agg.user_id)
        |ORDER BY user_id, session_start""".stripMargin),
    // seventh streaming surface: LEFT OUTER stream-stream interval join —
    // null emission = watermark-driven state eviction, hash-equal to batch
    Query("q135_outer_join_parity", outerJoinParity _,
      """SELECT c.event_id AS click_id, c.user_id,
        |  CAST(c.ts AS TIMESTAMP) AS click_ts,
        |  e.event_id AS error_id, CAST(e.ts AS TIMESTAMP) AS error_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        |  AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, error_id NULLS FIRST""".stripMargin),
    // eighth streaming surface: exactly-once across a job restart — two
    // AvailableNow runs sharing one checkpoint equal the batch aggregate
    // q143's oracle is q85's batch aggregate verbatim: the restart must
    // change NOTHING about the computed result
    Query("q143_incremental_restart", incrementalRestartParity _,
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),
    // ninth streaming surface: foreachBatch DUAL-sink routing (clean /
    // quarantine), replay-idempotent via per-batch overwrite
    Query("q147_quarantine_dual_sink", quarantineDualSink _,
      """WITH staged AS (
        |  SELECT event_id, event_type, value FROM events
        |  UNION ALL SELECT event_id, event_type, -value - 1.0 FROM events
        |    WHERE event_id % 10 = 0
        |  UNION ALL SELECT event_id, 'corrupt', value FROM events
        |    WHERE event_id % 13 = 0
        |  UNION ALL SELECT event_id, 'corrupt', -value - 1.0 FROM events
        |    WHERE event_id % 70 = 0),
        |m AS (SELECT *,
        |    (CASE WHEN value < 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN event_type NOT IN
        |        ('click', 'error', 'purchase', 'signup', 'view')
        |      THEN 2 ELSE 0 END) AS reason_mask
        |  FROM staged)
        |SELECT CASE WHEN reason_mask = 0 THEN 'clean' ELSE 'quarantine' END
        |    AS side,
        |  reason_mask, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM m GROUP BY 1, 2 ORDER BY side, reason_mask""".stripMargin),
    // tenth streaming surface: incremental dedup across micro-batches
    // q169's oracle IS q153's: the streaming increment protocol must land
    // on the single-batch answer regardless of micro-batch splits
    Query("q169_incremental_dedup_stream", (s, d) =>
      incrementalDedupStreamParity(s, d),
      graft.dedup.Dedup.incrementalDedupSql),
    // 11th streaming surface: unbounded-horizon per-key numeric state
    Query("q194_ewma_stream", (s, d) => ewmaStreamParity(s, d),
      // the identical recursion, evaluated batch-side: 0.5·v + 0.5·e is
      // the same fixed IEEE expression the state fold runs
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rk
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, rk, CAST(1 AS BIGINT) AS n,
        |    value AS ewma
        |  FROM seq WHERE rk = 1
        |  UNION ALL
        |  SELECT s.user_id, s.event_id, s.rk, r.n + 1,
        |    0.5 * s.value + 0.5 * r.ewma
        |  FROM r JOIN seq s
        |    ON s.user_id = r.user_id AND s.rk = r.rk + 1)
        |SELECT user_id, event_id, n, ewma
        |FROM r ORDER BY user_id, n""".stripMargin),
    // 12th streaming surface: broadcast boundaries + windowed histogram
    Query("q212_stream_drift_hist", (s, d) => driftHistogramParity(s, d), {
      val qs = (1 until 10).map(i => i.toDouble / 10)
      s"""WITH e AS (SELECT event_type, ts,
         |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vq
         |  FROM events),
         |bnd AS (SELECT event_type,
         |    quantile_cont(vq, [${qs.mkString(", ")}]) AS bnd
         |  FROM e WHERE EXTRACT(day FROM ts) <= 15 GROUP BY event_type)
         |SELECT CAST(to_timestamp(floor(epoch(CAST(e.ts AS TIMESTAMP))
         |    / 21600) * 21600) AS TIMESTAMP) AS window_start,
         |  e.event_type AS event_type,
         |  CAST(len(list_filter(bnd.bnd,
         |    b -> CAST(vq AS DOUBLE) > b)) + 1 AS INTEGER) AS bin,
         |  COUNT(*) AS n
         |FROM e JOIN bnd ON e.event_type = bnd.event_type
         |GROUP BY 1, 2, 3
         |ORDER BY window_start, event_type, bin""".stripMargin
    }),
    // 14th streaming surface: native session_window vs the q50 batch oracle
    // q234's oracle IS q50's, unmodified: the builtin session_window
    // stream must reproduce the batch gaps-and-islands sessionization
    // exactly, trailing sessions included
    Query("q234_session_window_stream", (s, d) => sessionWindowParity(s, d),
      graft.analytics.Advanced.sessionizeSql),
    // 15th streaming surface: stream-stream LEFT SEMI interval join
    Query("q247_semi_join_parity", (s, d) => semiJoinParity(s, d),
      """SELECT c.event_id AS click_id, c.user_id,
        |  CAST(c.ts AS TIMESTAMP) AS click_ts
        |FROM events c
        |WHERE c.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM events e
        |  WHERE e.event_type = 'error' AND e.user_id = c.user_id
        |    AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE)
        |ORDER BY click_id""".stripMargin),
    // 16th streaming surface: Spark 4 transformWithState + RocksDB
    Query("q253_tws_parity", (s, d) => twsParity(s, d),
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  MAX(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // 17th streaming surface: incremental HLL in MapState registers
    Query("q260_hll_stream", (s, d) => hllStreamParity(s, d), {
      val h = graft.functions.TextPrims.hex60S("md5('0#' || uid)")
      s"""WITH u AS (SELECT DISTINCT event_type,
         |    CAST(user_id AS VARCHAR) AS uid FROM events),
         |hh AS (SELECT event_type, $h AS h FROM u),
         |rr AS (SELECT event_type, h % 1024 AS idx, h // 1024 AS z
         |  FROM hh),
         |rk AS (SELECT event_type, idx,
         |    CASE WHEN z = 0 THEN 50 ELSE 51 - length(bin(z)) END AS rank
         |  FROM rr),
         |regs AS (SELECT event_type, idx, MAX(rank) AS mx
         |  FROM rk GROUP BY event_type, idx),
         |sums AS (SELECT event_type, COUNT(*) AS n_filled,
         |    CAST(SUM(CAST(1 AS BIGINT) << (50 - mx)) AS BIGINT)
         |      AS isum_filled
         |  FROM regs GROUP BY event_type),
         |fl AS (SELECT event_type, n_filled, 1024 - n_filled AS v0,
         |    isum_filled + (1024 - n_filled) *
         |      (CAST(1 AS BIGINT) << 50) AS isum
         |  FROM sums),
         |est AS (SELECT event_type, n_filled, v0,
         |    ${graft.text.TextOps.HllAlphaM2} *
         |      CAST(CAST(1 AS BIGINT) << 50 AS DOUBLE)
         |      / CAST(isum AS DOUBLE) AS raw
         |  FROM fl)
         |SELECT event_type, CAST(n_filled AS INTEGER) AS n_filled,
         |  round(CASE WHEN raw <= ${2.5 * 1024} AND v0 > 0
         |    THEN 1024.0 * round(ln(1024.0 / CAST(v0 AS DOUBLE)), 6)
         |    ELSE raw END, 6) AS hll_est
         |FROM est ORDER BY event_type""".stripMargin
    }),
    // 18th streaming surface: ListState bounded replay buffer
    Query("q261_replay_buffer", (s, d) => replayParity(s, d),
      """WITH r AS (SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id,
        |  CAST(COUNT(*) AS INTEGER) AS n_buf,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS last5
        |FROM r WHERE rn <= 5
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    // 19th streaming surface: event-time timers close trailing sessions
    // q264's oracle IS q50's too: the timer-closed session set must
    // reproduce the batch gaps-and-islands build exactly — trailing
    // sessions exist in the stream output only because timers fired
    Query("q264_timer_sessions", (s, d) => timerSessionParity(s, d),
      graft.analytics.Advanced.sessionizeSql),
    // 20th streaming surface: additive count-min registers in MapState
    Query("q270_cm_stream", (s, d) => cmStreamParity(s, d), {
      val planes = (0 until CmD).map { j =>
        val b = graft.functions.TextPrims.hex60S(s"md5('$j#' || uid)")
        s"""SELECT event_type, user_id, c, $j AS j, $b % $CmW AS bucket
           |  FROM cnt""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH cnt AS (SELECT event_type, user_id,
         |    CAST(user_id AS VARCHAR) AS uid, COUNT(*) AS c
         |  FROM events GROUP BY event_type, user_id),
         |pl AS MATERIALIZED (
         |  $planes),
         |sk AS (SELECT event_type, j, bucket,
         |    CAST(SUM(c) AS BIGINT) AS counter
         |  FROM pl GROUP BY event_type, j, bucket)
         |SELECT p.event_type, p.user_id,
         |  CAST(MAX(p.c) AS BIGINT) AS n_exact,
         |  CAST(MIN(s.counter) AS BIGINT) AS n_est
         |FROM pl p JOIN sk s ON p.event_type = s.event_type
         |  AND p.j = s.j AND p.bucket = s.bucket
         |WHERE p.user_id % 97 = 0
         |GROUP BY p.event_type, p.user_id
         |ORDER BY p.event_type, p.user_id""".stripMargin
    }),
    // 21st streaming surface: token-bucket quota state, integer-exact
    Query("q284_rate_limiter", (s, d) => rateLimiterParity(s, d),
      s"""WITH RECURSIVE seq AS (
         |  SELECT user_id, event_id,
         |    CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS ms,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rk
         |  FROM events),
         |r AS (
         |  SELECT user_id, rk, CAST(${RateCap - 1} AS BIGINT) AS tok,
         |    ms AS last_ms, CAST(1 AS BIGINT) AS adm,
         |    CAST(0 AS BIGINT) AS rej
         |  FROM seq WHERE rk = 1
         |  UNION ALL
         |  SELECT user_id, rk,
         |    CASE WHEN t2 >= 1 THEN t2 - 1 ELSE t2 END,
         |    lm2,
         |    adm + CASE WHEN t2 >= 1 THEN 1 ELSE 0 END,
         |    rej + CASE WHEN t2 >= 1 THEN 0 ELSE 1 END
         |  FROM (
         |    SELECT s.user_id, s.rk,
         |      least($RateCap, r.tok + (s.ms - r.last_ms) // $RefillMs)
         |        AS t2,
         |      r.last_ms + ((s.ms - r.last_ms) // $RefillMs) * $RefillMs
         |        AS lm2,
         |      r.adm, r.rej
         |    FROM r JOIN seq s
         |      ON s.user_id = r.user_id AND s.rk = r.rk + 1)),
         |fin AS (SELECT user_id, MAX(rk) AS mx FROM r GROUP BY user_id)
         |SELECT r.user_id, r.rk AS n_seen, r.adm AS n_admitted,
         |  r.rej AS n_rejected, r.tok AS tokens_left
         |FROM r JOIN fin ON r.user_id = fin.user_id AND r.rk = fin.mx
         |ORDER BY r.user_id""".stripMargin),
    // 22nd streaming surface: LEFT ANTI interval join — absence is
    // watermark-certified eviction (completes the join family)
    Query("q295_anti_join_parity", (s, d) => antiJoinParity(s, d),
      """SELECT c.event_id AS click_id, c.user_id,
        |  CAST(c.ts AS TIMESTAMP) AS click_ts
        |FROM events c
        |WHERE c.event_type = 'click' AND NOT EXISTS (
        |  SELECT 1 FROM events e
        |  WHERE e.event_type = 'error' AND e.user_id = c.user_id
        |    AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE)
        |ORDER BY click_id""".stripMargin),
    // 23rd streaming surface: per-key state under TTL — a 5 s register
    // deterministically evicts across the two-run gap, a 60 min one
    // survives; the oracle encodes the same horizon
    // q297's oracle encodes the TTL horizon: the day≤15 / day>15 halves
    // are the two batches, the durable register is the cumulative fold
    // (windowed DECIMAL sums, exact), the ephemeral register restarts
    // per half because the harness gap exceeds its TTL
    Query("q297_ttl_state", (s, d) => ttlStateParity(s, d),
      """WITH e AS (SELECT user_id,
        |    CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 1 ELSE 2 END
        |      AS slice,
        |    CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events),
        |g AS (SELECT user_id, slice, COUNT(*) AS nb, SUM(v) AS sb
        |  FROM e GROUP BY user_id, slice)
        |SELECT user_id,
        |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS appear_idx,
        |  CAST(CASE WHEN ROW_NUMBER() OVER w > 1 THEN 1 ELSE 0 END
        |    AS INTEGER) AS warm_durable,
        |  CAST(SUM(nb) OVER w AS BIGINT) AS n_total,
        |  CAST(SUM(sb) OVER w AS DOUBLE) AS sum_total,
        |  CAST(nb AS BIGINT) AS n_since_evict,
        |  CAST(sb AS DOUBLE) AS sum_since_evict
        |FROM g
        |WINDOW w AS (PARTITION BY user_id ORDER BY slice
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, appear_idx""".stripMargin),
    // 25th streaming surface: state SCHEMA EVOLUTION — run 2 resumes
    // the checkpoint with a state schema that adds a nullable field
    // (Avro encoding); no key loses history, the new metric starts at
    // the upgrade
    // q308's oracle encodes the upgrade semantics: totals over the
    // whole table, the added metric over the post-upgrade half only,
    // NULL for keys the upgraded job never saw
    Query("q308_state_evolution", (s, d) => stateEvolutionParity(s, d),
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_value,
        |  MAX(CASE WHEN EXTRACT(day FROM ts) > 15 THEN value END)
        |    AS max_v_since_upgrade
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // 26th streaming surface: STATE-STORE READER — the q308 harness's
    // RocksDB checkpoint read back as a batch DataFrame (statestore +
    // state-metadata sources); the oracle recomputes the expected
    // post-upgrade per-key state from raw events
    // q309's oracle is q308's post-upgrade state recomputed from raw
    // events PLUS the harness topology pinned as literals: 8 state
    // shards (the conf the checkpoint recorded) and final batch id 1
    // (run 1 commits batch 0, run 2 batch 1) — read back through the
    // state-metadata source, so a phantom batch or a repartitioned
    // store breaks the hash
    Query("q309_state_reader", (s, d) => stateStoreRead(s, d),
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_value,
        |  MAX(CASE WHEN EXTRACT(day FROM ts) > 15 THEN value END)
        |    AS max_v_since_upgrade,
        |  CAST(8 AS INTEGER) AS n_state_shards,
        |  CAST(1 AS BIGINT) AS last_batch
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // 27th streaming surface: STATE CHANGE FEED — the checkpoint's
    // per-batch changelog read back as CDC rows (readChangeFeed over
    // both eras of the q308 evolution harness)
    // q312's oracle is the changelog recomputed from raw events: batch
    // 0 = V1 state per first-half user (evolved max field null), batch
    // 1 = post-upgrade state per second-half user (cumulative totals,
    // max since upgrade); every change is an update, keys the batch
    // never touched emit nothing
    Query("q312_state_change_feed", (s, d) => stateChangeFeed(s, d),
      """WITH h1 AS (SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      AS sum_value
        |  FROM events WHERE EXTRACT(day FROM ts) <= 15
        |  GROUP BY user_id),
        |h2 AS (SELECT user_id, MAX(value) AS mx
        |  FROM events WHERE EXTRACT(day FROM ts) > 15
        |  GROUP BY user_id),
        |tot AS (SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |      AS sum_value
        |  FROM events GROUP BY user_id)
        |SELECT batch_id, change_type, user_id, n, sum_value,
        |  max_v_since_upgrade
        |FROM (
        |  SELECT CAST(0 AS BIGINT) AS batch_id, 'update' AS change_type,
        |    user_id, n, sum_value,
        |    CAST(NULL AS DOUBLE) AS max_v_since_upgrade
        |  FROM h1
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), 'update', t.user_id, t.n,
        |    t.sum_value, h2.mx
        |  FROM tot t JOIN h2 ON h2.user_id = t.user_id)
        |ORDER BY user_id, batch_id""".stripMargin),
    // 28th streaming surface: DEDUP-STATE EVICTION visibility — a key
    // whose within-watermark dedup state expired is admitted again
    // (q111's bounded-state complement)
    // q313's oracle: every probe key (day<=10, id % 10 == 0,
    // re-delivered twice at +30 days) counts exactly ONCE at its
    // shifted hour — stale dedup state makes it vanish, a broken
    // re-created entry double-counts it
    Query("q313_dedup_eviction", (s, d) => dedupEvictionParity(s, d),
      """WITH replay AS (SELECT ts + INTERVAL 30 DAY AS ts, event_type,
        |    value
        |  FROM events
        |  WHERE event_id % 10 = 0 AND EXTRACT(day FROM ts) <= 10),
        |allr AS (SELECT ts, event_type, value FROM events
        |  UNION ALL SELECT ts, event_type, value FROM replay)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_value
        |FROM allr GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin),
    // 29th streaming surface: STATE TIME TRAVEL — the checkpoint as of
    // batch 0 (pre-upgrade V1 state), completing the reader triad
    // q317's oracle is the V1-era state recomputed from raw events:
    // day<=15 totals only (the value struct is the V1 shape — the
    // evolved field doesn't exist at batch 0; the spec asserts that)
    Query("q317_state_time_travel", (s, d) => stateTimeTravel(s, d),
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_value
        |FROM events WHERE EXTRACT(day FROM ts) <= 15
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    // 30th streaming surface: MapState READ-BACK — the q270 count-min
    // matrix read from the checkpoint, every populated cell vs the
    // relational rebuild (the reader extended to collection state)
    // q319: the q270 sketch matrix rebuilt relationally, one row per
    // populated (j, bucket) cell — cell = j*w + bucket, q270's flat
    // MapState key spelling
    Query("q319_cm_state_read", (s, d) => cmStateRead(s, d), {
      val planes = (0 until CmD).map { j =>
        val b = graft.functions.TextPrims.hex60S(s"md5('$j#' || uid)")
        s"""SELECT event_type, c, $j AS j, $b % $CmW AS bucket
           |  FROM cnt""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH cnt AS (SELECT event_type, user_id,
         |    CAST(user_id AS VARCHAR) AS uid, COUNT(*) AS c
         |  FROM events GROUP BY event_type, user_id),
         |pl AS (
         |  $planes),
         |sk AS (SELECT event_type, j, bucket,
         |    CAST(SUM(c) AS BIGINT) AS counter
         |  FROM pl GROUP BY event_type, j, bucket)
         |SELECT event_type,
         |  CAST(j * $CmW + bucket AS BIGINT) AS cell, counter
         |FROM sk ORDER BY event_type, cell""".stripMargin
    }),
    // 31st streaming surface: the custom connector's MicroBatchStream —
    // checkpointed restart admits each file exactly once
    // q335 oracle = the whole-table aggregate: all three slices,
    // each exactly once across the checkpointed restart
    Query("q335_fixedwidth_stream", (s, d) => fixedWidthStreamParity(s, d),
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(SUM(CAST(round(l_quantity * 10000) AS BIGINT))
        |    AS BIGINT) AS sum_q4
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
  )

  /** UPSERT sink — streaming twin of `Advanced.upsertSnapshot`: each
    * micro-batch is merged into a keyed parquet snapshot with
    * batch-rows-win-per-key semantics (foreachBatch is the Structured
    * Streaming idiom for merge sinks the built-in file sink can't
    * express). The merge itself is the same union + keyed-window pass as
    * q88. Idempotent by construction: replaying a batch merges the same
    * rows onto the same keys, so checkpoint-replay after a crash converges
    * to the identical snapshot (effectively-once). Within a batch,
    * `tsCol` breaks multi-row keys (latest wins); rows tying on
    * (key, ts) fall through to a content hash over all columns, so the
    * survivor is a deterministic function of row CONTENT, never of
    * shuffle order (ties between identical rows are harmless by
    * construction).
    *
    * Scale: the snapshot rewrite is O(snapshot) per batch — right for
    * dimension-sized state (the SCD-1 use). A 100 TB fact snapshot would
    * hash-bucket the store by key and rewrite only buckets containing
    * batch keys (same merge, partitioned layout — see
    * Sinks.parquetPartitioned). */
  def upsertSink(df: DataFrame, keyCol: String, tsCol: String,
                 snapshotDir: String, checkpointDir: String,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeBatch(batch, keyCol, tsCol, snapshotDir, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .start()

  /** One [[upsertSink]] micro-batch merge — factored out so the crash
    * protocol is directly testable (StreamingSpec replays it from each
    * crash-window filesystem state and asserts convergence). */
  private[graft] def mergeBatch(batch: Dataset[org.apache.spark.sql.Row],
                                keyCol: String, tsCol: String,
                                snapshotDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val snap = new org.apache.hadoop.fs.Path(snapshotDir)
    val prev = new org.apache.hadoop.fs.Path(s"$snapshotDir-prev")
    val tmp  = new org.apache.hadoop.fs.Path(s"$snapshotDir-next-$batchId")
    // resolve the fs from the SNAPSHOT path's scheme — FileSystem.get
    // (defaultFS) would silently rename on the wrong filesystem when
    // the snapshot lives on s3a/file: and defaultFS is hdfs
    val fs = snap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // base = current snapshot, else the -prev generation (present only
    // if a crash hit between the two renames below), else empty
    val base = (if (fs.exists(snap)) Some(snap.toString)
                else if (fs.exists(prev)) Some(prev.toString) else None)
      .map(p => spark.read.parquet(p).withColumn("src", lit(0)))
      .getOrElse(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        batch.schema).withColumn("src", lit(0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy(col("src").desc, col(tsCol).desc,
        // content-hash tiebreaker: (key, ts) ties resolve by row
        // content, not shuffle order (see scaladoc)
        xxhash64(batch.columns.map(col): _*))
    val merged = base.unionByName(batch.withColumn("src", lit(1)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "src")
    // write-then-swap: never read and overwrite the same path in one
    // job (the scan is lazy — overwriting in place would read-after-
    // truncate). Swap keeps a -prev generation alive until the new
    // snapshot is in place, so NO crash point loses the snapshot:
    // replay finds either snap (done) or -prev (retry from last good).
    merged.write.mode("overwrite").parquet(tmp.toString)
    // prev is only cleared when snap exists to replace it: on a
    // recovery replay (snap missing, prev = last good generation),
    // deleting prev before tmp is promoted would leave a crash window
    // with NO surviving generation
    if (fs.exists(snap)) {
      fs.delete(prev, true)
      require(fs.rename(snap, prev), s"rename $snap -> $prev failed")
    }
    require(fs.rename(tmp, snap), s"rename $tmp -> $snap failed")
    fs.delete(prev, true)
    ()
  }

  /** q335 — CUSTOM-CONNECTOR STREAMING PARITY (31st surface): the
    * fixed-width DSv2 source ([[graft.sources.fixedwidth]]) read as a
    * STREAM through its own MicroBatchStream — offsets are positions in
    * the sorted file log, AvailableNow drains to a horizon pinned at
    * prepare time. The harness is the suite's restart shape: run 1
    * ingests slice A and checkpoints; slices B and C land; run 2
    * RESUMES FROM THE CHECKPOINT and must ingest exactly B+C — a
    * re-delivered A doubles the counts, a missed slice shorts them,
    * and either breaks the hash against the whole-table oracle. This
    * is the S10 Kafka-shaped contract (resumable offset log, exactly-
    * once file admission) demonstrated on a connector THIS engine
    * owns end to end, not a built-in.
    *
    * Every staged slice is REQUIRED non-empty before the runs (the
    * q298 lesson: an empty increment makes the restart proof vacuous). */
  def fixedWidthStreamParity(s: SparkSession, dir: String): DataFrame =
    staged(s, "q335") { h =>
      val li = graft.sources.Tables.load(s, dir, "lineitem")
      def stageSlice(rem: Int, name: String): Unit = {
        val st = h.dir.resolve(s"st$rem")
        val slice = li.filter(col("l_orderkey") % 3 === rem)
        require(slice.limit(1).count() == 1,
          s"q335 slice $rem is empty — restart proof would be vacuous")
        slice.select(concat(
            lpad(col("l_orderkey").cast(StringType), 12, " "),
            lpad(col("l_suppkey").cast(StringType), 8, " "),
            lpad(round(col("l_quantity") * 10000).cast(LongType)
              .cast(StringType), 12, " "),
            col("l_returnflag")).as("value"))
          .coalesce(1).write.mode("overwrite").text(st.toString)
        val part = Option(st.toFile.listFiles).getOrElse(Array.empty)
          .find(_.getName.endsWith(".txt"))
          .getOrElse(sys.error(s"no text part under $st"))
        java.nio.file.Files.move(part.toPath, h.in.resolve(name))
      }
      val spec = "l_orderkey:0:12:long,l_suppkey:12:8:long," +
        "l_q4:20:12:long,l_returnflag:32:1:string"
      def runOnce(run: String): Unit =
        h.await(h.sink(s.readStream
          .format("graft.sources.fixedwidth.FixedWidthSource")
          .option("spec", spec).load(h.in.toString)), run)
      stageSlice(0, "aa-slice0.txt")
      runOnce("run 1") // checkpoint ends after slice A
      stageSlice(1, "bb-slice1.txt")
      stageSlice(2, "cc-slice2.txt")
      runOnce("run 2") // resumes — must admit exactly B+C
      h.output
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_okey"),
          sum(col("l_q4")).as("sum_q4"))
        .orderBy("l_returnflag")
        .localCheckpoint()
    }

  /** Parquet sink with checkpointing (S3's streaming twin). */
  def toParquet(df: DataFrame, outDir: String, checkpointDir: String,
                trigger: org.apache.spark.sql.streaming.Trigger =
                  org.apache.spark.sql.streaming.Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .start()
}
