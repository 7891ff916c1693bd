package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, UserSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  /** Move the single parquet part of a one-file staged write into place
    * with a deterministic mtime (File.listFiles — no leaked dir stream). */
  private def stagePart(stageDir: String, dest: String, mtimeMs: Long): Unit = {
    val part = Option(new java.io.File(stageDir).listFiles)
      .getOrElse(Array.empty[java.io.File])
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no parquet part under $stageDir"))
    val dst = java.nio.file.Paths.get(dest)
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.move(part.toPath, dst)
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  test("tumblingCounts aggregates a file-sourced micro-batch like its batch twin") {
    val dir = tmp()
    // stage the sf0.001 events as the streamed input
    graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      // one file → one micro-batch, so the watermark can't drop replayed
      // out-of-order events between batches
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    val q = EventStream.toParquet(
      EventStream.tumblingCounts(EventStream.fileSource(spark, s"$dir/in")),
      s"$dir/out", s"$dir/ckpt")
    assert(q.awaitTermination(120000), "stream did not terminate in time")
    val streamed = spark.read.parquet(s"$dir/out")
    val batch = graft.sources.Tables.load(spark, sfDir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("bn"), sum(col("value")).as("bsum"))
    // every EMITTED window agrees exactly with the batch twin...
    val joined = streamed.join(batch, Seq("window_start", "event_type"))
    assert(joined.count() === streamed.count())
    assert(joined.filter(col("n") =!= col("bn") ||
      abs(col("sum_value") - col("bsum")) > 1e-9).count() === 0)
    // ...and the only windows withheld are the tail still inside the
    // watermark horizon (correct Append-mode semantics, not data loss)
    val maxEmitted = streamed.agg(max("window_start")).first().getTimestamp(0)
    val withheld = batch.join(streamed, Seq("window_start", "event_type"), "left_anti")
    assert(withheld.filter(col("window_start") <= maxEmitted).count() === 0)
  }

  test("parquet sink is exactly-once across restarts (checkpoint replay)") {
    // re-running the same query against the same checkpoint must process
    // nothing new and append nothing — the recovery guarantee that makes
    // the sink safe to restart mid-backfill on a real cluster
    val dir = tmp()
    graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    def runOnce(): Long = {
      val q = EventStream.toParquet(
        EventStream.fileSource(spark, s"$dir/in"),
        s"$dir/out", s"$dir/ckpt")
      assert(q.awaitTermination(120000), "stream did not terminate in time")
      spark.read.parquet(s"$dir/out").count()
    }
    val first = runOnce()
    assert(first === graft.sources.Tables.load(spark, sfDir, "events").count())
    val second = runOnce() // same checkpoint: restart, not reprocess
    assert(second === first)
  }

  test("upsertSink merges micro-batches into a keyed snapshot, latest wins") {
    // streaming twin of q88: two staged files → two micro-batches with
    // overlapping keys; the snapshot must hold exactly one row per key,
    // the later batch's (and within a batch, the later timestamp's)
    val dir = tmp()
    import spark.implicits._
    def stage(i: Int, rows: Seq[Event]): Unit = {
      val tmpd = s"$dir/stage$i"
      rows.toDS().coalesce(1).write.mode("overwrite").parquet(tmpd)
      stagePart(tmpd, s"$dir/in/part-$i.parquet", 1000000L + i * 60000L)
    }
    stage(0, Seq(
      Event(1, ts(0), 7, "view", 1.0),
      Event(2, ts(1), 8, "view", 2.0),
      Event(2, ts(2), 8, "click", 3.0))) // key 2 twice in-batch: ts(2) wins
    stage(1, Seq(
      Event(1, ts(10), 7, "purchase", 9.0), // overwrites batch-0's key 1
      Event(3, ts(11), 9, "view", 4.0)))
    def runOnce(): Unit = {
      val src = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      val q = EventStream.upsertSink(src, keyCol = "event_id", tsCol = "ts",
        s"$dir/snap", s"$dir/ckpt")
      assert(q.awaitTermination(120000), "stream did not terminate in time")
    }
    runOnce()
    val snap = spark.read.parquet(s"$dir/snap").as[Event].collect()
      .sortBy(_.event_id)
    assert(snap.map(_.event_id).toSeq === Seq(1L, 2L, 3L), snap.toSeq)
    assert(snap(0).event_type === "purchase" && snap(0).value === 9.0)
    assert(snap(1).event_type === "click" && snap(1).value === 3.0) // in-batch latest
    assert(snap(2).event_type === "view")
    // restart on the same checkpoint: no reprocessing, snapshot unchanged
    runOnce()
    val again = spark.read.parquet(s"$dir/snap").as[Event].collect().sortBy(_.event_id)
    assert(again.toSeq === snap.toSeq)
  }

  test("upsert chaos: merge replay converges from every crash-window state") {
    // the write-then-swap protocol claims NO crash point loses the
    // snapshot: a replay finds either snap (merge done) or snap-prev
    // (last good generation) and converges. Prove it by reconstructing
    // each crash-window filesystem state and replaying mergeBatch.
    import spark.implicits._
    val dir = tmp()
    val snap = s"$dir/snap"
    def read() = spark.read.parquet(snap).as[Event].collect()
      .map(e => (e.event_id, e.event_type, e.value)).sortBy(_._1).toSeq
    def exists(p: String) =
      new java.io.File(p).exists()
    val base = Seq(Event(1, ts(0), 7, "view", 1.0), Event(2, ts(1), 8, "view", 2.0))
    val batch = Seq(Event(2, ts(5), 8, "click", 9.0), Event(3, ts(6), 9, "view", 4.0))
    base.toDS().write.mode("overwrite").parquet(snap) // generation 0
    val gen0 = read()
    // clean merge → generation 1 (the expected post-merge state everywhere)
    EventStream.mergeBatch(batch.toDS().toDF(), "event_id", "ts", snap, 0L)
    val gen1 = read()
    assert(gen1 === Seq((1L, "view", 1.0), (2L, "click", 9.0), (3L, "view", 4.0)))
    assert(!exists(s"$snap-prev")) // clean path leaves no stale generation

    // crash window A: between the two renames — snap was renamed to -prev,
    // tmp not yet promoted: snapshot MISSING, -prev = last good generation
    val fs = new org.apache.hadoop.fs.Path(snap)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    base.toDS().write.mode("overwrite").parquet(snap) // reset to gen 0
    require(fs.rename(new org.apache.hadoop.fs.Path(snap),
      new org.apache.hadoop.fs.Path(s"$snap-prev")))
    assert(!exists(snap) && exists(s"$snap-prev"))
    EventStream.mergeBatch(batch.toDS().toDF(), "event_id", "ts", snap, 1L)
    assert(read() === gen1, "replay from -prev must produce the same merge")
    assert(!exists(s"$snap-prev"))

    // crash window B: after promotion, before -prev cleanup — snap = new
    // generation AND -prev = old generation both present; the foreachBatch
    // replay re-merges the SAME batch into the already-merged snapshot
    base.toDS().write.mode("overwrite").parquet(s"$snap-prev") // stale gen 0
    assert(exists(snap) && exists(s"$snap-prev"))
    EventStream.mergeBatch(batch.toDS().toDF(), "event_id", "ts", snap, 2L)
    assert(read() === gen1, "re-merging the same batch must be idempotent")
    assert(!exists(s"$snap-prev"), "replay must clear the stale generation")

    // crash window C: leftover -next staging dir from a crash mid-write —
    // a replay with the same batchId must overwrite it, not fail
    batch.toDS().write.mode("overwrite").parquet(s"$snap-next-3")
    EventStream.mergeBatch(batch.toDS().toDF(), "event_id", "ts", snap, 3L)
    assert(read() === gen1)
    assert(!exists(s"$snap-next-3"), "staging dir must be promoted away")
    assert(gen0 !== gen1) // sanity: the merge actually changed something
  }

  test("soak: watermark expiry evicts aggregate state across many micro-batches") {
    // multi-batch file-source run spanning many event-time hours: windows
    // must be EMITTED once the watermark passes them and their state rows
    // REMOVED — the property that keeps state bounded on an unbounded
    // stream. maxFilesPerTrigger=1 forces one batch per staged file.
    val dir = tmp()
    val events = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .orderBy("ts").localCheckpoint()
    // stage 6 files of consecutive event-time ranges (mtime-ordered so
    // batches replay in event-time order and the watermark ratchets up)
    val n = events.count()
    val chunk = (n / 6 + 1).toInt
    val rows = events.collect().grouped(chunk).toSeq
    rows.zipWithIndex.foreach { case (part, i) =>
      val df = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(part.toSeq).asJava),
        events.schema)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/stage$i")
      stagePart(s"$dir/stage$i", s"$dir/in/part-$i.parquet", 1000000L + i * 60000L)
    }
    val src = spark.readStream.schema(EventStream.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = EventStream.toParquet(
      EventStream.tumblingCounts(src, window_ = "1 hour", watermark = "2 hours"),
      s"$dir/out", s"$dir/ckpt")
    assert(q.awaitTermination(180000), "stream did not terminate in time")
    // the sink holds emitted (finalized) windows…
    val emitted = spark.read.parquet(s"$dir/out").count()
    assert(emitted > 0)
    // …and the state store actually removed rows when the watermark passed
    // them (not just accumulated forever)
    val removed = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, s"no state rows evicted across ${q.recentProgress.length} batches")
    // bounded state: final state row count is far below total windows seen
    val finalState = q.recentProgress.last.stateOperators.map(_.numRowsTotal).sum
    assert(finalState < emitted + removed,
      s"state $finalState not bounded vs emitted=$emitted removed=$removed")
  }

  test("soak: idle sessionizer state is flushed and evicted on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 7, "view", 1.0),
      Event(2, ts(5), 7, "view", 2.0)) // open session for user 7
    val sessions = EventStream.sessionize(input.toDS(),
      gapMs = 30 * 60 * 1000L, idleTimeout = Some("1 second"))
    val q = sessions.writeStream.format("memory").queryName("soak_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // NO processAllAvailable anywhere in this test: with a
      // processing-time timeout the engine schedules timeout-check batches
      // forever, so processAllAvailable never quiesces (the exact hazard
      // sessionize's scaladoc documents). Poll the sink with a deadline —
      // the 1 s idle timeout must flush user 7's trailing session on its
      // own, with no further input.
      var waited = 0
      while (spark.table("soak_sessions").count() < 1 && waited < 60000) {
        Thread.sleep(500); waited += 500
      }
      val out = spark.table("soak_sessions").as[UserSession].collect()
      assert(out.exists(s => s.user_id == 7 && s.n_events == 2),
        out.mkString(", "))
      // …and the flush EVICTED the state row (numRowsRemoved), so idle
      // users don't accumulate state forever
      def removed = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      waited = 0
      while (removed == 0 && waited < 20000) { Thread.sleep(500); waited += 500 }
      assert(removed > 0, "timeout flush did not evict the session state row")
    } finally q.stop()
  }

  test("sessionize splits on gaps and aggregates within sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 7, "view", 1.0),
      Event(2, ts(5), 7, "view", 2.0),
      Event(3, ts(40), 7, "view", 4.0), // 35-min gap → new session
      Event(4, ts(0), 9, "click", 8.0))
    // idleTimeout=None → deterministic NoTimeout mode: trailing open
    // sessions stay in state (the default Some(...) flushes them on a
    // processing-time timeout, which never quiesces under MemoryStream)
    val sessions = EventStream.sessionize(input.toDS(),
      gapMs = 30 * 60 * 1000L, idleTimeout = None)
    val q = sessions.writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // only CLOSED sessions are emitted (user 7's first; later ones are open state)
      val out = spark.table("sessions_out").as[UserSession].collect()
      assert(out.length === 1)
      val s7 = out.head
      assert(s7.user_id === 7 && s7.n_events === 2 && s7.sum_value === 3.0)
      assert(s7.session_start === ts(0) && s7.session_end === ts(5))
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with in-range errors only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val errors = MemoryStream[Event]
    clicks.addData(
      Event(10, ts(0), 7, "click", 1.0),
      Event(11, ts(60), 7, "click", 1.0), // no error within 30 min after
      Event(12, ts(0), 9, "click", 1.0)) // other user
    errors.addData(
      Event(20, ts(10), 7, "error", 0.0), // 10 min after click 10 → match
      Event(21, ts(200), 7, "error", 0.0), // far future → no match
      Event(22, ts(5), 8, "error", 0.0)) // user without clicks
    val joined = EventStream.correlateStreams(
      clicks.toDS().toDF(), errors.toDS().toDF())
    val q = joined.writeStream.format("memory").queryName("corr_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val out = spark.table("corr_out")
        .select("click_id", "error_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(out.toSeq === Seq((10L, 20L)))
    } finally q.stop()
  }

  test("q247 semi join emits a multiply-matched click ONCE, " +
      "unmatched clicks never") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val errors = MemoryStream[Event]
    clicks.addData(
      Event(10, ts(0), 7, "click", 1.0), // two in-range errors → ONE row
      Event(11, ts(60), 7, "click", 1.0), // no error within 30 min after
      Event(12, ts(0), 9, "click", 1.0)) // other user, no errors
    errors.addData(
      Event(20, ts(10), 7, "error", 0.0), // in range for click 10
      Event(21, ts(20), 7, "error", 0.0), // ALSO in range for click 10
      Event(22, ts(5), 8, "error", 0.0)) // user without clicks
    val matched = EventStream.correlateSemi(
      clicks.toDS().toDF(), errors.toDS().toDF())
    val q = matched.writeStream.format("memory").queryName("semi_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val out = spark.table("semi_out").select("click_id").collect()
        .map(_.getLong(0)).sorted
      // first-match-once: the double match may NOT duplicate click 10
      assert(out.toSeq === Seq(10L))
    } finally q.stop()
  }

  test("q253 transformWithState folds named RocksDB state across " +
      "micro-batches; emissions are cumulative") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val in = MemoryStream[EventStream.Event]
    val q = EventStream.userStatsTws(in.toDS()).toDF()
      .writeStream.format("memory").queryName("tws_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(
        EventStream.Event(1, ts(0), 7, "click", 1.5),
        EventStream.Event(2, ts(1), 7, "view", 2.5),
        EventStream.Event(3, ts(2), 9, "click", 4.0))
      q.processAllAvailable()
      in.addData( // batch 2: user 7 continues, user 9 silent
        EventStream.Event(4, ts(3), 7, "error", 0.5))
      q.processAllAvailable()
      val out = spark.table("tws_out")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3)))
      // user 7: cumulative emissions (2, 4.0) then (3, 4.5) — the
      // second PROVES batch-2 state started from batch-1's fold
      assert(out.toSet === Set((7L, 2L, 4.0, 2.5), (7L, 3L, 4.5, 2.5),
        (9L, 1L, 4.0, 4.0)))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("q260 streaming HLL: registers max-merge across batches; final " +
      "estimate equals a driver recompute over the union") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val in = MemoryStream[EventStream.Event]
    val q = EventStream.hllStream(in.toDS()).toDF()
      .writeStream.format("memory").queryName("hll_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((1 to 50).map(u =>
        EventStream.Event(u, ts(u), u, "click", 1.0)): _*)
      q.processAllAvailable()
      in.addData((26 to 80).map(u => // overlaps 26-50: idempotent merge
        EventStream.Event(100 + u, ts(100 + u), u, "click", 1.0)): _*)
      q.processAllAvailable()
      val rows = spark.table("hll_out")
        .orderBy(org.apache.spark.sql.functions.col("n_seen").desc)
        .collect()
      assert(rows.length === 2) // one emission per batch
      val fin = rows.head
      assert(fin.getAs[Long]("n_seen") === 105L) // 50 + 55 events folded
      // driver recompute over the DISTINCT union 1..80
      val regs = collection.mutable.Map.empty[Long, Int]
      (1 to 80).foreach { u =>
        val h = graft.functions.TextPrims.javaMd5Hex60(s"0#$u")
        val (idx, z) = (h % 1024, h >> 10)
        val rank = if (z == 0) 51
          else 51 - java.lang.Long.toBinaryString(z).length
        regs(idx) = math.max(regs.getOrElse(idx, 0), rank)
      }
      assert(fin.getAs[Int]("n_filled") === regs.size)
      val v0 = 1024L - regs.size
      val expected = 1024.0 * BigDecimal(math.log(1024.0 / v0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(fin.getAs[Double]("hll_est") -
        BigDecimal(expected).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("q261 replay buffer: cross-batch merge re-sorts an out-of-order " +
      "arrival and caps at 5") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val in = MemoryStream[EventStream.Event]
    val q = EventStream.replayStream(in.toDS()).toDF()
      .writeStream.format("memory").queryName("replay_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((1 to 4).map(i =>
        EventStream.Event(i, ts(i * 10), 7, "click", 1.0)): _*)
      q.processAllAvailable()
      in.addData( // 99 is newest; 5 lands BETWEEN stored slots (ts 15)
        EventStream.Event(99, ts(100), 7, "click", 1.0),
        EventStream.Event(5, ts(15), 7, "click", 1.0),
        EventStream.Event(6, ts(35), 7, "click", 1.0))
      q.processAllAvailable()
      val fin = spark.table("replay_out")
        .orderBy(org.apache.spark.sql.functions.col("n_seen").desc)
        .collect().head
      assert(fin.getAs[Long]("n_seen") === 7L)
      assert(fin.getAs[Int]("n_buf") === 5)
      // newest-first by ts: 99(t100), 4(t40), 6(t35), 3(t30), 2(t20);
      // the out-of-order 5(t15) and 1(t10) are evicted
      assert(fin.getAs[String]("last5") === "99,4,6,3,2")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("q264 timer sessions: in-batch closures emit immediately, timer " +
      "closures fire as the watermark passes, extensions re-arm the timer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    def th(h: Double) = new Timestamp(
      Timestamp.valueOf("2026-01-01 00:00:00").getTime +
        (h * 3600000L).toLong)
    val in = MemoryStream[EventStream.Event]
    val sessions = in.toDS()
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(
        new EventStream.SessionTimerProcessor(gapMs = 7200000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[EventStream.UserSession])
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("timer_out").outputMode(OutputMode.Append()).start()
    try {
      // b1: u7 opens [0, 1h]; u8 opens [0, 0] — nothing closes
      in.addData(
        EventStream.Event(1, th(0), 7, "click", 1.0),
        EventStream.Event(2, th(1), 7, "click", 1.0),
        EventStream.Event(3, th(0), 8, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("timer_out").count() === 0L)
      // b2: u7@2.5h EXTENDS (gap 1.5h ≤ 2h — the stale 3h-timer must be
      // replaced, not fire later); u8@10h closes u8's [0,0] IN-BATCH
      in.addData(
        EventStream.Event(4, th(2.5), 7, "click", 1.0),
        EventStream.Event(5, th(10), 8, "click", 1.0))
      q.processAllAvailable()
      // b3: watermark is now 8h (10h − 2h): u7's re-armed 4.5h-timer
      // fires; u8's 12h-timer does not
      in.addData(EventStream.Event(6, th(100), 9, "click", 1.0))
      q.processAllAvailable()
      // b4: watermark 98h: u8's trailing session fires; u9's first
      // session closes in-batch
      in.addData(EventStream.Event(7, th(200), 9, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("timer_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3))).toSet
      assert(out === Set(
        (8L, th(0), th(0), 1L),      // in-batch closure (b2)
        (7L, th(0), th(2.5), 3L),    // timer closure (b3) — extension kept
        (8L, th(10), th(10), 1L),    // timer closure (b4)
        (9L, th(100), th(100), 1L))) // in-batch closure (b4)
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set(provKey, p)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("dedupStream drops in-watermark re-deliveries, keeps distinct keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 7, "view", 1.0),
      Event(1, ts(1), 7, "view", 1.0), // re-delivery of event 1
      Event(2, ts(2), 7, "view", 2.0),
      Event(2, ts(2), 7, "view", 2.0), // exact duplicate of event 2
      Event(3, ts(3), 9, "click", 3.0))
    val deduped = EventStream.dedupStream(input.toDS().toDF())
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("q147 dual sink partitions the stream: no row lost, none double-routed") {
    val rows = EventStream.quarantineDualSink(spark, sfDir).collect()
    val bySide = rows.groupBy(_.getString(0))
    assert(bySide.keySet === Set("clean", "quarantine"))
    // clean side is exactly mask 0; quarantine is every non-zero mask
    assert(bySide("clean").forall(_.getAs[Int]("reason_mask") === 0))
    assert(bySide("quarantine").forall(_.getAs[Int]("reason_mask") > 0))
    // the two sinks partition the staged input: totals reconstruct the
    // injection arithmetic (n + n/10 + n/13 + n/70 slices, by event_id)
    val events = graft.sources.Tables.load(spark, sfDir, "events")
    val n = events.count()
    def sliceCount(m: Int) =
      events.filter(col("event_id") % m === 0).count()
    val expected = n + sliceCount(10) + sliceCount(13) + sliceCount(70)
    assert(rows.map(_.getAs[Long]("n")).sum === expected)
  }

  test("q147 routeBatch replay is idempotent: same batchId overwrites in place") {
    // a crash between sink writes re-delivers the batch with the same id;
    // routing it again must leave identical contents on BOTH sides
    val dir = tmp()
    // deterministic, materialized batch: LIMIT without ORDER BY is not
    // stable across the several actions below, and the idempotence claim
    // needs the SAME rows on every evaluation
    val batch = graft.sources.Tables.load(spark, sfDir, "events")
      .orderBy("event_id").limit(200)
      .withColumn("value",
        when(col("event_id") % 7 === 0, -col("value") - 1.0)
          .otherwise(col("value")))
      .localCheckpoint()
    def snapshot(): (Seq[Long], Seq[Long]) = (
      spark.read.parquet(s"$dir/clean").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq,
      spark.read.parquet(s"$dir/quar").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq)
    EventStream.routeBatch(batch, 0L, s"$dir/clean", s"$dir/quar")
    val first = snapshot()
    EventStream.routeBatch(batch, 0L, s"$dir/clean", s"$dir/quar") // replay
    assert(snapshot() === first)
    // and the two sides partition the batch
    assert(first._1.size + first._2.size === batch.count())
    // ids are unique in this batch, so the sides must be disjoint
    assert(first._1.toSet.intersect(first._2.toSet).isEmpty)
  }

  test("staged harness: a body that throws after starting a query leaves " +
      "no query, conf or scratch dir behind") {
    val parts = "spark.sql.shuffle.partitions"
    val unpinned = "spark.graft.test.unpinned"
    assert(spark.conf.getOption(unpinned).isEmpty)
    var dir: java.nio.file.Path = null
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val e = intercept[IllegalStateException] {
      EventStream.staged(spark, "qlifecycle",
          Map(parts -> "8", unpinned -> "x")) { h =>
        dir = h.dir
        assert(spark.conf.get(parts) == "8")
        assert(spark.conf.get(unpinned) == "x")
        // a rate stream under the default trigger never ends on its own
        q = h.track(spark.readStream.format("rate").load().writeStream
          .format("noop").option("checkpointLocation", h.ckpt).start())
        assert(q.isActive)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(!q.isActive)
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.getOption(unpinned).isEmpty)
    assert(spark.conf.get(parts) == "4")
    assert(!java.nio.file.Files.exists(dir))
  }

  /** Runs `names` and asserts they leave no active query, pinned conf or
    * scratch dir behind, and that `events.parquet` keeps its length and
    * mtime: q109, q115 and q194 stream the table through links to its
    * files. */
  private def leavesNothingBehind(names: String*): Unit = {
    val prov = "spark.sql.streaming.stateStore.providerClass"
    val provBefore = spark.conf.getOption(prov)
    def harnessDirs(): Set[String] =
      Option(graft.sources.Tables.scratchRoot.toFile.list())
        .map(_.toSet).getOrElse(Set.empty).filter(_.startsWith("graft-q"))
    val events = java.nio.file.Paths.get(sfDir, "events.parquet")
    def stamp() = (java.nio.file.Files.size(events),
      java.nio.file.Files.getLastModifiedTime(events))
    val eventsBefore = stamp()
    val before = harnessDirs()
    names.foreach(name => SparkEntry.queries(name)(spark, sfDir).count())
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.getOption(prov) == provBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(harnessDirs() -- before == Set.empty[String])
    assert(stamp() == eventsBefore)
  }

  test("q85, q115 and q270 leave no active query, pinned conf or " +
      "scratch dir behind") {
    leavesNothingBehind("q85_stream_parity", "q115_stream_static_join",
      "q270_cm_stream")
  }

  test("q109 and q194 leave nothing behind, and their linked events " +
      "table keeps its length and mtime") {
    leavesNothingBehind("q109_interval_join_parity", "q194_ewma_stream")
  }

  test("linked staging fails, naming the path, for a non-local or nested table") {
    def failure(sfDir: String): String =
      intercept[IllegalArgumentException](EventStream.staged(spark, "qlink") {
        h => h.linkedEvents(sfDir) }).getMessage
    val remote = "hdfs://namenode:8020/sf"
    assert(failure(remote).contains(s"$remote/events.parquet"))
    val nested = tmp()
    val part = java.nio.file.Paths.get(nested, "events.parquet", "day=1")
    java.nio.file.Files.createDirectories(part)
    java.nio.file.Files.write(part.resolve("f.parquet"), Array[Byte](1))
    assert(failure(nested).contains(s"$nested/events.parquet has a nested file"))
  }

  test("q143 restart parity equals the single-run streaming parity (q85)") {
    // two AvailableNow runs resuming one checkpoint must produce the
    // exact rows one continuous run produces — state restore, file-log
    // resume, and in-flight windows included
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getDouble(3))
    val restarted = EventStream.incrementalRestartParity(spark, sfDir)
      .collect().map(key).toSeq
    val continuous = EventStream.streamingParity(spark, sfDir)
      .collect().map(key).toSeq
    assert(restarted === continuous)
  }

  test("q169 streaming incremental dedup equals the single-batch q153") {
    // batch-split invariance: three micro-batches with a cross-batch
    // index must land on exactly the one-shot batch answer — a content
    // double-counted across a boundary, or a twin misclassified when its
    // pair sits in an earlier batch, would break the equality
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
    val streamed = EventStream.incrementalDedupStreamParity(spark, sfDir)
      .collect().map(key).toSeq
    val batch = graft.dedup.Dedup.incrementalDedup(spark, sfDir)
      .collect().map(key).toSeq
    assert(streamed === batch)
  }

  test("ewmaByUser: state folds across micro-batches exactly like one batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.ewmaByUser(input.toDS()).writeStream
      .format("memory").queryName("ewma_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two users interleaved, out-of-order arrival within batch
      input.addData(
        Event(2, ts(5), 7, "view", 3.0),
        Event(1, ts(0), 7, "view", 1.0),
        Event(5, ts(0), 9, "click", 8.0))
      q.processAllAvailable()
      // batch 2: continuation — the recursion must carry over state
      input.addData(Event(3, ts(10), 7, "view", 5.0))
      q.processAllAvailable()
      val out = spark.table("ewma_out").as[EventStream.EwmaPoint]
        .collect().sortBy(p => (p.user_id, p.n))
      // user 7: 1.0 → .5*3+.5*1=2.0 → .5*5+.5*2=3.5 ; user 9: 8.0
      assert(out.map(p => (p.user_id, p.event_id, p.n, p.ewma)).toSeq === Seq(
        (7L, 1L, 1L, 1.0), (7L, 2L, 2L, 2.0), (7L, 3L, 3L, 3.5),
        (9L, 5L, 1L, 8.0)))
    } finally q.stop()
  }

  test("ewmaByUser: cross-batch straggler is dropped, not folded late") {
    // the documented event-time contract: an event arriving in a LATER
    // micro-batch with (ts, event_id) at or below the per-user
    // high-water mark must be dropped — folding it after newer events
    // would produce a series that no total-order recursion over the
    // data can reproduce (the round-9 ADVICE gap)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.ewmaByUser(input.toDS()).writeStream
      .format("memory").queryName("ewma_ooo_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts(0), 7, "view", 1.0),
        Event(2, ts(10), 7, "view", 3.0))
      q.processAllAvailable()
      // batch 2: a straggler BEFORE the mark (dropped), a tie AT the
      // mark with a lower event_id (dropped), then a genuine new event
      // that must fold from the pre-straggler state
      input.addData(
        Event(9, ts(5), 7, "view", 100.0),
        Event(0, ts(10), 7, "view", 100.0),
        Event(3, ts(20), 7, "view", 5.0))
      q.processAllAvailable()
      val out = spark.table("ewma_ooo_out").as[EventStream.EwmaPoint]
        .collect().sortBy(p => (p.user_id, p.n))
      // 1.0 → .5*3+.5*1=2.0 → .5*5+.5*2=3.5; stragglers emit nothing
      assert(out.map(p => (p.user_id, p.event_id, p.n, p.ewma)).toSeq === Seq(
        (7L, 1L, 1L, 1.0), (7L, 2L, 2L, 2.0), (7L, 3L, 3L, 3.5)))
    } finally q.stop()
  }

  test("q234 session_window: streamed sessions equal the batch build, " +
      "trailing sessions included") {
    // the builtin session_window surface must reproduce q50's batch
    // gaps-and-islands result EXACTLY — unlike q130, nothing is
    // excluded: the watermark+sentinel harness closes every session
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime, r.getLong(4), r.getDouble(5))
    val streamed = EventStream.sessionWindowParity(spark, sfDir)
      .collect().map(key).toSeq
    val batch = graft.analytics.Advanced.sessionizeBatch(spark, sfDir)
      .collect().map(key).toSeq
    assert(streamed === batch)
  }

  test("q212 drift histogram: streamed cells equal the batch computation") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.driftHistogramParity(spark, sfDir)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getInt(2))
        -> r.getLong(3)).toMap
    val vq = (col("value").cast(org.apache.spark.sql.types
      .DecimalType(18, 6)) * 1000000).cast("long")
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val qsArr = (1 until 10).map(i => i / 10.0)
    val bnd = ev.filter(dayofmonth(col("ts")) <= 15)
      .select(col("event_type"), vq.as("vq"))
      .groupBy("event_type")
      .agg(expr(s"percentile(vq, array(${qsArr.mkString(", ")}))").as("bnd"))
    val batch = ev.withColumn("vq", vq)
      .join(broadcast(bnd), Seq("event_type"))
      .withColumn("bin",
        size(filter(col("bnd"), b => col("vq").cast("double") > b)) + 1)
      .groupBy(window(col("ts"), "6 hours"), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getStruct(0).getTimestamp(0), r.getString(1),
        r.getInt(2)) -> r.getLong(3)).toMap
    assert(streamed === batch)
  }

  test("q270 count-min stream: estimates never undercount and match " +
      "exact counts when collision-free") {
    val rows = graft.streaming.EventStream.cmStreamParity(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ex = r.getAs[Long]("n_exact")
      val est = r.getAs[Long]("n_est")
      assert(est >= ex, s"CM undercounted: $r")
    }
    // the sketch is 4x256 over a small key universe here, so at least
    // one probe row should be collision-free (est == exact) — a sketch
    // that overcounts EVERY row is summing something wrong
    assert(rows.exists(r =>
      r.getAs[Long]("n_est") === r.getAs[Long]("n_exact")))
  }

  test("q284 rate limiter: admissions conserve, bucket stays in " +
      "[0, cap], every user accounted") {
    val rows = graft.streaming.EventStream.rateLimiterParity(spark, sfDir)
      .collect()
    val users = graft.sources.Tables.load(spark, sfDir, "events")
      .select("user_id").distinct().count()
    assert(rows.length.toLong === users)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_admitted") + r.getAs[Long]("n_rejected")
        === r.getAs[Long]("n_seen"), r.toString)
      val tok = r.getAs[Long]("tokens_left")
      assert(tok >= 0 && tok <= graft.streaming.EventStream.RateCap)
      // the first event always admits
      assert(r.getAs[Long]("n_admitted") >= 1)
    }
  }

  test("q297 TTL state: ephemeral register evicts across the gap, " +
      "durable register survives it") {
    val rows = graft.streaming.EventStream.ttlStateParity(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    // at least one user spans both halves, or the surface proves nothing
    assert(byUser.values.exists(_.length === 2))
    byUser.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("appear_idx"))
      // first appearance: cold on both registers, folds agree
      val first = sorted.head
      assert(first.getAs[Int]("warm_durable") === 0)
      assert(first.getAs[Long]("n_total")
        === first.getAs[Long]("n_since_evict"))
      sorted.drop(1).foreach { r =>
        // re-appearance after the gap: the durable register carried
        // history (warm, cumulative strictly above the batch count)
        // while the ephemeral one restarted — the VISIBLE TTL eviction
        assert(r.getAs[Int]("warm_durable") === 1)
        assert(r.getAs[Long]("n_total") >
          r.getAs[Long]("n_since_evict"), r.toString)
        assert(r.getAs[Long]("n_total") === sorted.head.getAs[Long](
          "n_total") + r.getAs[Long]("n_since_evict"))
      }
    }
  }

  test("q298 streaming IVF upsert lands on the batch q277 answer " +
      "across the micro-batch splits and the restart") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
    val streamed = graft.similarity.Similarity
      .annIvfUpsertStream(spark, sfDir).collect().map(key).toSeq
    val batch = graft.similarity.Similarity
      .annIvfUpsert(spark, sfDir).collect().map(key).toSeq
    assert(streamed.nonEmpty && streamed === batch)
    // insert VISIBILITY (a neighbor on the upsert id plane) holds at
    // the oracle scales (sf0.01+), where q277/q298 hash-check against
    // the corpus∪additions oracle; at this spec's fixture scale the
    // copies' sources sit outside the tiny query cells' top-k, so the
    // spec asserts the transfer property instead: streamed ≡ batch.
  }

  test("q308 state evolution: V1 history survives the upgrade, the " +
      "added metric starts at it") {
    import org.apache.spark.sql.functions._
    val rows = graft.streaming.EventStream
      .stateEvolutionParity(spark, sfDir).collect()
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val users = ev.select("user_id").distinct().count()
    assert(rows.length.toLong === users)
    // counts cover BOTH halves — a key dropped by the schema check
    // would restart at its post-upgrade count
    val nTotal = ev.count()
    assert(rows.map(_.getAs[Long]("n")).sum === nTotal)
    // the added metric: null exactly for users with no post-upgrade
    // events, and bounded by the user's true max where present
    val post = ev.filter(dayofmonth(col("ts")) > 15)
      .groupBy("user_id").agg(max("value").as("mx"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val uid = r.getAs[Long]("user_id")
      val idx = r.fieldIndex("max_v_since_upgrade")
      if (post.contains(uid)) {
        assert(!r.isNullAt(idx), s"user $uid lost its upgrade metric")
        assert(r.getDouble(idx) === post(uid), r.toString)
      } else assert(r.isNullAt(idx), s"user $uid has a phantom max")
    }
  }

  test("q309 state reader: the checkpoint read back as a DataFrame " +
      "equals the final emissions, with the pinned topology") {
    val rows = graft.streaming.EventStream
      .stateStoreRead(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // topology from the state-metadata source: 8 state shards (the
    // conf the checkpoint recorded), last committed batch id 1 (run 1
    // commits batch 0, run 2 batch 1)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_state_shards") === 8)
      assert(r.getAs[Long]("last_batch") === 1L)
    }
    // the state store IS the source of truth the emissions reflect:
    // per-key live state must equal the latest emission per key
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("user_id"), r.getAs[Long]("n"),
      r.getAs[Double]("sum_value"),
      Option(r.getAs[java.lang.Double]("max_v_since_upgrade")))
    val viaEmissions = graft.streaming.EventStream
      .stateEvolutionParity(spark, sfDir).collect().map(key).toSeq
    assert(rows.map(key).toSeq === viaEmissions)
  }

  test("q312 state change feed: batch 0 carries V1-era state, batch 1 " +
      "carries the post-upgrade cumulative state") {
    import org.apache.spark.sql.functions._
    val rows = graft.streaming.EventStream
      .stateChangeFeed(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("change_type") === "update", r.toString)
      assert(Set(0L, 1L)(r.getAs[Long]("batch_id")), r.toString)
    }
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val b0 = rows.filter(_.getAs[Long]("batch_id") == 0L)
    val b1 = rows.filter(_.getAs[Long]("batch_id") == 1L)
    // batch 0: one update per first-half user, V1 schema era — the
    // evolved max field must read back null
    assert(b0.length.toLong === ev.filter(dayofmonth(col("ts")) <= 15)
      .select("user_id").distinct().count())
    b0.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("max_v_since_upgrade")), r.toString)
    }
    // batch 1: one update per second-half user, cumulative count
    assert(b1.length.toLong === ev.filter(dayofmonth(col("ts")) > 15)
      .select("user_id").distinct().count())
    assert(b1.map(_.getAs[Long]("n")).sum ===
      ev.filter(col("user_id").isin(
        b1.map(_.getAs[Long]("user_id")).toSeq: _*)).count())
    b1.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("max_v_since_upgrade")), r.toString)
    }
  }

  test("q313 dedup eviction: every probe key is re-admitted once after " +
      "its state expired, and dedups within its arrival batch") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.EventStream
      .dedupEvictionParity(spark, sfDir).collect()
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val replay = ev
      .filter(col("event_id") % 10 === 0 && dayofmonth(col("ts")) <= 10)
      .withColumn("ts", col("ts") + expr("INTERVAL 30 DAYS"))
    assert(replay.limit(1).count() === 1L, "fixture has no probe keys")
    // expected: base events + each probe key exactly ONCE at its
    // shifted hour (survived eviction, deduped within the batch)
    val expected = ev.select("ts", "event_type", "value")
      .unionByName(replay.select("ts", "event_type", "value"))
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types
          .DecimalType(18, 4))).cast("double").as("sum_value"))
      .orderBy("hour_start", "event_type")
      .collect()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[java.sql.Timestamp]("hour_start"),
      r.getAs[String]("event_type"), r.getAs[Long]("n"),
      r.getAs[Double]("sum_value"))
    assert(got.map(key).toSeq === expected.map(key).toSeq)
  }

  test("q317 state time travel: batch-0 state is the pre-upgrade V1 " +
      "store — first-half totals, no evolved field") {
    import org.apache.spark.sql.functions._
    // the operator itself asserts schema time travel (the batch-0
    // value struct is the V1 shape, no evolved field); this spec
    // checks the VALUES are exactly the pre-upgrade totals
    val rows = graft.streaming.EventStream
      .stateTimeTravel(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val expected = graft.sources.Tables.load(spark, sfDir, "events")
      .filter(dayofmonth(col("ts")) <= 15)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types
          .DecimalType(18, 4))).cast("double").as("sum_value"))
      .orderBy("user_id").collect()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[Long]("user_id"), r.getAs[Long]("n"),
      r.getAs[Double]("sum_value"))
    assert(rows.map(key).toSeq === expected.map(key).toSeq)
  }

  test("q319 MapState read-back: every populated count-min cell equals " +
      "the relational rebuild; column sums count every event") {
    val rows = graft.streaming.EventStream
      .cmStateRead(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
    val byType = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val d = graft.streaming.EventStream.CmD
    val w = graft.streaming.EventStream.CmW
    // count-min column invariant: every row j of the matrix counts
    // every event exactly once, so per (event_type, j) the cells sum
    // to the type's event count — a lost increment breaks one row sum
    rows.groupBy(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("cell") / w)).foreach { case ((et, j), cells) =>
      assert(j >= 0 && j < d, s"cell outside the $d-plane matrix: $j")
      assert(cells.map(_.getAs[Long]("counter")).sum === byType(et),
        s"($et, plane $j)")
    }
  }

  test("q295 anti join: absent set is disjoint from q247's matched set " +
      "and together they cover all clicks") {
    import org.apache.spark.sql.functions.col
    val absent = graft.streaming.EventStream.antiJoinParity(spark, sfDir)
      .select("click_id").collect().map(_.getLong(0)).toSet
    val matched = graft.streaming.EventStream.semiJoinParity(spark, sfDir)
      .select("click_id").collect().map(_.getLong(0)).toSet
    assert((absent intersect matched).isEmpty)
    val clicks = graft.sources.Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "click")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert((absent union matched) === clicks)
  }

  test("q335 connector stream: offset json round-trips, and the two-run " +
      "harness admits every slice exactly once (count = full table)") {
    import graft.sources.fixedwidth.FwOffset
    val hc = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val stream = new graft.sources.fixedwidth.FwMicroBatchStream(
      Seq.empty, Seq.empty, Array.empty, "/nonexistent", hc)
    // filename-anchored offset round-trips (incl. json escaping)
    val o = FwOffset(7, Some("""/tmp/a "b"\c.fw"""))
    assert(stream.deserializeOffset(o.json) === o)
    // a pre-`last` checkpoint (count-only json) still deserializes —
    // back-compat with offsets written before the anchor existed
    assert(stream.deserializeOffset("""{"files":7}""") ===
      FwOffset(7, None))
    val got = graft.streaming.EventStream
      .fixedWidthStreamParity(spark, sfDir).collect()
    val want = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.map(r => r.getString(0) -> r.getAs[Long]("n")).toMap === want)
  }

  test("q335 append-only enforcement: a committed file that vanishes or " +
      "shifts in the sorted listing fails replay LOUDLY, not silently") {
    import graft.sources.fixedwidth.FwOffset
    val dir = new java.io.File(tmp())
    def put(name: String): Unit =
      java.nio.file.Files.writeString(
        new java.io.File(dir, name).toPath, "0000000001\n")
    put("part-0001.fw"); put("part-0002.fw")
    val hc = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val spec = graft.sources.fixedwidth.FixedWidthSource
      .parseSpec("v:0:10:long")
    val stream = new graft.sources.fixedwidth.FwMicroBatchStream(
      spec, spec, Array.empty, dir.getAbsolutePath, hc)
    val end0 = stream.latestOffset().asInstanceOf[FwOffset]
    assert(end0.n === 2 && end0.last.exists(_.endsWith("part-0002.fw")))
    // happy path: replay of (0, end0) plans both files
    assert(stream.planInputPartitions(FwOffset(0, None), end0).length === 2)
    // violation 1: a file lands sorting BEFORE the committed prefix
    put("part-0000.fw")
    val e1 = intercept[IllegalStateException] {
      stream.planInputPartitions(end0, stream.latestOffset())
    }
    assert(e1.getMessage.contains("append-only"))
    // violation 2: a committed file is deleted
    assert(new java.io.File(dir, "part-0000.fw").delete())
    assert(new java.io.File(dir, "part-0002.fw").delete())
    val e2 = intercept[IllegalStateException] {
      stream.planInputPartitions(FwOffset(0, None), end0)
    }
    assert(e2.getMessage.contains("append-only"))
    // violation 3: a corrupt/hand-edited checkpoint (count 0 with a
    // non-empty anchor — FwOffset.of never emits this) gets the
    // contract message, not an IndexOutOfBoundsException
    val e3 = intercept[IllegalStateException] {
      stream.planInputPartitions(FwOffset(0, Some("x.fw")),
        stream.latestOffset())
    }
    assert(e3.getMessage.contains("append-only"))
  }

  test("q334 connector rejects a user-supplied schema that contradicts " +
      "the spec instead of silently discarding it") {
    val dir = new java.io.File(tmp())
    java.nio.file.Files.writeString(
      new java.io.File(dir, "a.fw").toPath, "0000000001\n")
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.fixedwidth.FixedWidthSource")
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("wrong",
            org.apache.spark.sql.types.StringType))))
        .option("spec", "v:0:10:long")
        .option("path", dir.getAbsolutePath)
        .load().collect()
    }
    assert(e.getMessage.contains("spec-derived schema"))
    // and the matching schema is accepted
    val ok = spark.read.format("graft.sources.fixedwidth.FixedWidthSource")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType))))
      .option("spec", "v:0:10:long")
      .option("path", dir.getAbsolutePath)
      .load().collect()
    assert(ok.map(_.getLong(0)).toSeq === Seq(1L))
  }
}
