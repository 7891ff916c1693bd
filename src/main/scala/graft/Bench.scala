package graft
import graft.sources.Tables

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR.
  * Streams ONE JSON line per completed query ({"metric":"query",...}) so a
  * mid-run kill (host timeout, OOM-killer) still leaves every completed
  * timing on stdout, then prints the final aggregate line
  * {"metric":"total","queries":{...}} — consumers that only want the
  * summary read the last "total" line; consumers recovering a crashed run
  * replay the per-query lines (failed attempts carry "failed":true). A light
  * warmup pass runs first so per-query numbers measure the query, not
  * JVM/session/codegen warmup (without it, whichever query runs first
  * absorbs ~5 s of one-time cost and the comparison to BASELINE is noise).
  * SPARK_GRAFT_BENCH_REPS=N (default 2) runs N full passes and reports
  * per-query MINIMA in the total line — the self-certification mode for
  * hosts with pegged-thread variance.
  *
  * DEGRADED-WINDOW GUARD: the checked-in PERF_FLOORS.json records each
  * query's best observed quiet-window seconds. After the standard passes,
  * any query whose min still exceeds 2× its floor gets up to 2 extra
  * targeted reps (a transient host stall poisons a full pass; a targeted
  * retry escapes it), and the total line lists whatever remains above the
  * band under "suspect" — an official artifact taken in a degraded window
  * now says so itself instead of misreporting the engine by 5-10×.
  * Override the floors path with SPARK_GRAFT_FLOORS; a missing file
  * disables the guard (new queries simply have no floor yet).
  *
  * RETRY-UNTIL-QUIET: a calibration probe runs before EVERY pass, not
  * once; if no standard pass certifies quiet (ratio ≤ 1.15), up to
  * SPARK_GRAFT_QUIET_EXTRA (default 1) additional full passes run after
  * a settle pause, stopping at the first quiet one. The total line
  * carries calib_ratios (every attempt) and quiet_certified, so a
  * best-of-N artifact taken on a loud host says so itself. */
object Bench {
  /** The host fingerprint fields of the total line, with the names
    * pipebench prints: cpus and the resolved master, MemTotal in kB, the
    * JDK and Spark versions, and the git SHA of the working directory.
    * A value that cannot be read is null. */
  private[graft] def host(spark: org.apache.spark.sql.SparkSession,
                          cpus: Int): String = {
    import scala.sys.process.{Process, ProcessLogger}
    def str(v: Option[String]) = v.fold("null")(Json.str)
    val memKb = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("MemTotal:") => l.split("\\s+")(1) }
      finally src.close()
    }.toOption.flatten
    val sha = scala.util.Try(Process(Seq("git", "rev-parse", "HEAD"))
      .!!(ProcessLogger(_ => ())).trim).toOption
      .filter(_.matches("[0-9a-f]{40}"))
    Seq("cpus" -> cpus.toString, "master" -> str(Some(s"local[$cpus]")),
      "mem_total_kb" -> memKb.getOrElse("null"),
      "jdk" -> str(Option(System.getProperty("java.runtime.version"))),
      "spark" -> str(Some(spark.version)), "git_sha" -> str(sha))
      .map { case (k, v) => Json.field(k, v) }.mkString(",")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // contract: bench runs on every core; SPARK_GRAFT_CPUS only overrides
    val cpus = Tables.cpus
    val spark = Tables.session("graft-bench")
    // SPARK_GRAFT_BENCH_ONLY=q80,q29 — comma-separated name prefixes for
    // focused timing runs; unset = the full suite (the official artifact)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // a crashing query must not report its time-to-failure as a valid
    // measurement: record the sentinel -1 and list it under "failed"
    def runOne(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        Query.labelled(spark, name)(SparkEntry.queries(name)(spark, sfDir).count())
        (System.nanoTime() - t0) / 1e9
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0 }
    }
    // light warmup: a few cheap queries absorb session/codegen/parquet-footer
    // one-time costs without doubling the whole bench run
    val doWarmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1"
    if (doWarmup)
      Seq("q01_scan_project_filter", "q05_group_count", "q31_cosine_topk")
        .filter(SparkEntry.queries.contains).foreach(runOne)
    // CALIBRATION PROBE: a fixed synthetic query — corpus-independent,
    // CPU+shuffle bound, zero I/O — timed min-of-3 right after warmup.
    // Its quiet-window floor is checked in under the reserved name
    // "q000_calib_probe" in PERF_FLOORS.json, so every artifact carries
    // calib_ratio = measured/floor: ~1.0 certifies a quiet window;
    // >>1 says the HOST was degraded and totals should be read
    // normalized — round-over-round comparison no longer needs a human
    // to pick the quiet number (round-10 verdict watch item 2).
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 32L * 1000 * 1000, 1L, 32)
        .selectExpr("id % 9973 AS k", "id")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("id"),
          org.apache.spark.sql.functions.avg("id"),
          org.apache.spark.sql.functions.count("*"))
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    def calibMin(n: Int): Double = (1 to n).map(_ => calibOnce()).min
    // SCALING PROBE (round-17, verdict item 1): a FIXED amount of pure
    // per-row hash work (rows × a 64-deep xxhash64 chain) split across
    // the session's task slots, zero data-grain shuffle — its seconds
    // scale ~1/cores, so the driver's 8-core vs 32-core artifacts
    // THEMSELVES certify the core count took effect (the sf0.1 queries
    // are too fixed-overhead-bound to show a core effect; the r16
    // scaling block flagged exactly that). Reported inside the total
    // line's queries map under the reserved name "q000_scale_probe" so
    // the per-query scaling diff sees it; deliberately NOT given a
    // PERF_FLOORS entry — its cost is core-count-dependent BY DESIGN,
    // and a 32-core floor would mark the 8-core run "suspect" for
    // demonstrating precisely the intended 4× ratio.
    def scaleProbeOnce(): Double = {
      import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
      val t0 = System.nanoTime()
      val par = spark.sparkContext.defaultParallelism
      val h = (1 to 64).foldLeft(col("id"))((c, _) => xxhash64(c))
      spark.range(0L, 48L * 1000 * 1000, 1L, par)
        .select(h.as("h"))
        .filter(pmod(col("h"), lit(1000000007L)) === 0L)
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    val scaleProbeSec = math.min(scaleProbeOnce(), scaleProbeOnce())
    // min-of-3 for EVERY pass (including the first): per-pass calib
    // ratios must be measured under one protocol, or pass 1's
    // lower-biased min-of-N makes it more likely to certify quiet than
    // a retry pass under identical host conditions
    val calibSec = calibMin(3)
    // Host pegged-thread variance makes single-shot timings swing 6-140×
    // run-to-run, uncorrelated with the query; N full passes with per-query
    // MINIMA in the total line make the artifact self-certifying (min over
    // reps estimates the unperturbed cost; full passes, not back-to-back
    // per-query reps, so a transient host stall can't poison all reps of
    // one query).
    // default 2: the official (driver-run) artifact must be min-of-N even
    // without env cooperation — a single degraded-window pass misrepresents
    // the engine by 5-10× on heavy queries
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // degraded-window guard: quiet-window floors from the checked-in JSON
    // (flat {"name": seconds} — parsed without a JSON library on purpose:
    // zero-dependency contract, and the file is machine-generated)
    val floorsPath = sys.env.getOrElse("SPARK_GRAFT_FLOORS", "PERF_FLOORS.json")
    val floors: Map[String, Double] =
      try {
        val src = scala.io.Source.fromFile(floorsPath)
        try """"(q[0-9][^"]*)"\s*:\s*([0-9.eE+-]+)""".r
          .findAllMatchIn(src.mkString)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        finally src.close()
      } catch { case _: Throwable => Map.empty }
    // a silently-disabled guard is indistinguishable from a clean run —
    // say explicitly when no floors loaded (wrong cwd, corrupt file)
    if (floors.isEmpty)
      System.err.println(
        s"[bench] WARNING: no floors loaded from $floorsPath — " +
          "degraded-window guard inactive; suspect:[] does not certify")
    val calibFloor = floors.getOrElse("q000_calib_probe", -1.0)
    def ratioOf(sec: Double): Double =
      if (calibFloor > 0) sec / calibFloor else -1.0
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    // per-pass calibration: a probe runs BEFORE each full pass, so the
    // artifact records which passes executed in a quiet window instead
    // of one probe speaking for the whole run
    val passCalib = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runPass(rep: Int, probeSec: Double): Unit = {
      passCalib += probeSec
      println(f"""{"metric":"pass_calib","rep":$rep,"calib_sec":$probeSec%.3f,"calib_ratio":${ratioOf(probeSec)}%.2f}""")
      Console.out.flush()
      for (n <- names) {
        val sec = runOne(n)
        times(n) = sec :: times.getOrElse(n, Nil)
        // stream each result immediately: a killed run keeps everything
        // done; mark failures explicitly so replay consumers never sum
        // the sentinel
        val failedAttr = if (sec < 0) ""","failed":true""" else ""
        println(s"""{"metric":"query","name":${Json.str(n)},"value":$sec,"unit":"sec","rep":$rep$failedAttr}""")
        Console.out.flush()
      }
    }
    runPass(1, calibSec)
    for (rep <- 2 to reps) runPass(rep, calibMin(3))
    // RETRY-UNTIL-QUIET (round-11 verdict watch item 3): if NO standard
    // pass ran in a quiet window (all calib ratios above QuietRatio),
    // per-query minima still carry the host degradation — settle, then
    // run up to SPARK_GRAFT_QUIET_EXTRA (default 1) additional FULL
    // passes, stopping at the first whose probe certifies quiet. Bounded
    // so a persistently-loud host costs at most one extra pass by
    // default; the artifact annotates every attempt's ratio either way.
    val QuietRatio = 1.15
    def anyQuiet: Boolean =
      passCalib.exists(s => { val r = ratioOf(s); r > 0 && r <= QuietRatio })
    val quietExtra =
      sys.env.getOrElse("SPARK_GRAFT_QUIET_EXTRA", "1").toInt.max(0)
    var quietTries = 0
    while (calibFloor > 0 && !anyQuiet && quietTries < quietExtra) {
      Thread.sleep(15000) // let a transient co-tenant stall pass
      quietTries += 1
      runPass(reps + quietTries, calibMin(3))
    }
    def minOf(n: String): Double = {
      val ok = times(n).filter(_ >= 0)
      if (ok.nonEmpty) ok.min else -1.0
    }
    val MaxExtraReps = 2
    for (n <- names; f <- floors.get(n)) {
      var extra = 0
      while (extra < MaxExtraReps && (minOf(n) < 0 || minOf(n) > 2 * f)) {
        val sec = runOne(n)
        times(n) = sec :: times(n)
        extra += 1
        val failedAttr = if (sec < 0) ""","failed":true""" else ""
        println(s"""{"metric":"query","name":${Json.str(n)},"value":$sec,"unit":"sec","rep":${reps + quietTries + extra},"extra":true$failedAttr}""")
        Console.out.flush()
      }
    }
    // per-query minimum over successful reps; -1 only if every rep failed.
    // The scaling probe joins the emitted queries map (an ADDED entry per
    // the bench contract — nothing removed or renamed).
    val results = names.map(n => n -> minOf(n)) :+
      ("q000_scale_probe" -> scaleProbeSec)
    val failed = results.collect { case (n, v) if v < 0 => n }
    // still >2× floor after the targeted retries: the artifact flags the
    // measurement itself as degraded rather than presenting it as cost
    val suspect = results.collect {
      case (n, v) if v >= 0 && floors.get(n).exists(f => v > 2 * f) => n
    }
    val qs = Json.obj(results.map { case (k, v) => k -> v.toString })
    val total = results.map(_._2).filter(_ >= 0).sum
    val failedJson = failed.map(Json.str).mkString("[", ",", "]")
    val suspectJson = suspect.map(Json.str).mkString("[", ",", "]")
    // headline calib = the BEST window any pass ran in (per-query minima
    // aggregate across passes, so the quietest pass is the one the
    // reported numbers effectively came from); calib_ratios keeps every
    // attempt so a best-of-N artifact is explicit about its history
    val calibBest = passCalib.min
    val calibRatio = ratioOf(calibBest)
    val ratiosJson = passCalib
      .map(s => f"${ratioOf(s)}%.2f").mkString("[", ",", "]")
    val quietCertified = calibRatio > 0 && calibRatio <= QuietRatio
    val totalLine = f"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"suspect":$suspectJson,"reps":$reps,"calib_sec":$calibBest%.3f,"calib_ratio":$calibRatio%.2f,"calib_ratios":$ratiosJson,"quiet_certified":$quietCertified,${host(spark, cpus)},"scale_probe_sec":$scaleProbeSec%.3f,"sf":${Json.str(sfDir)}}"""
    println(totalLine)
    // standalone artifact: the stdout capture that becomes BENCH_r{N}.json
    // truncates to a tail window, losing most per-query timings — writing
    // the full total line to its own file makes round-over-round
    // adjudication one read instead of a rerun. Skipped only on request
    // (SPARK_GRAFT_BENCH_OUT=/dev/null) or an unwritable cwd.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_TOTAL.json")
    if (outPath != "/dev/null")
      try {
        val w = new java.io.PrintWriter(outPath, "UTF-8")
        try w.println(totalLine) finally w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
      }
    spark.stop()
  }
}
