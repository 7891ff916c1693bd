package graft

import graft.sources.{Sinks, Tables}
import graft.sql.Catalog
import org.apache.spark.sql.functions._

class SinksCatalogSpec extends SparkSpec {

  test("parquet/json/csv sinks round-trip (S3, S4, S6)") {
    val dir = tmp()
    val src = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    Sinks.parquet(src, s"$dir/p")
    assert(spark.read.parquet(s"$dir/p").count() === src.count())
    Sinks.json(src, s"$dir/j")
    assert(spark.read.json(s"$dir/j").count() === src.count())
    Sinks.csvSample(src, s"$dir/c", 25)
    val csv = spark.read.option("header", "true").csv(s"$dir/c")
    assert(csv.count() === 25)
    assert(csv.columns.toSeq === src.columns.toSeq)
  }

  test("partitioned parquet write enables partition pruning (SURVEY §4)") {
    val dir = tmp()
    Sinks.parquetPartitioned(Tables.load(spark, sfDir, "orders"),
      s"$dir/part", Seq("o_orderstatus"))
    val pruned = spark.read.parquet(s"$dir/part")
      .filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan)
    // pruning is physical, not just a plan annotation: only the o_orderstatus=F
    // directory's files are selected by the scan
    val scannedFiles = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.toSeq.map(_.urlEncodedPath)
    }.flatten
    assert(scannedFiles.nonEmpty &&
      scannedFiles.forall(_.contains("o_orderstatus=F")), scannedFiles.take(3))
    assert(pruned.count() ===
      Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderstatus") === "F").count())
  }

  test("CSV writer + explicit-schema reader round-trip nulls and extreme doubles") {
    // the S1/S6 pair must be lossless beyond fixture-shaped data: nulls,
    // denormal-adjacent magnitudes, negatives, and exact integers in
    // double form all survive the text round-trip
    import org.apache.spark.sql.types._
    val dir = tmp()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("s", StringType)))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, 1e-300, "a"),
      org.apache.spark.sql.Row(2L, -123456.789012345, null),
      org.apache.spark.sql.Row(3L, null, "comma,and\"quote"),
      org.apache.spark.sql.Row(4L, 9.007199254740993e15, "x"))
    val src = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
    src.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$dir/c")
    val back = Tables.csv(spark, s"$dir/c", schema).collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    val want = rows
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(back === want)
  }

  test("range-clustered parquet layout yields disjoint per-file key ranges") {
    // parquetClustered = repartitionByRange + sortWithinPartitions: files
    // must cover non-overlapping slices of the cluster key, which is what
    // lets parquet row-group stats skip data for key predicates at 100 TB
    val dir = tmp()
    val li = Tables.load(spark, sfDir, "lineitem")
    Sinks.parquetClustered(li, s"$dir/cl", Seq("l_orderkey"), numFiles = 4)
    val parts = Option(new java.io.File(s"$dir/cl").listFiles)
      .getOrElse(Array.empty[java.io.File])
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(parts.size > 1 && parts.size <= 4, parts)
    // per-file min/max of the cluster key
    val ranges = parts.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("l_orderkey")), max(col("l_orderkey"))).first()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // within-file sortedness gives narrow row-group stats; across files the
    // ranges must not interleave (equal boundary keys may touch)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, ranges)
      case _ =>
    }
    // nothing lost in the re-layout
    assert(spark.read.parquet(s"$dir/cl").count() === li.count())
  }

  test("q105 scan shape: flag predicate prunes partitions at planning time") {
    // the q105 plan guard: the read-back side of partitionPrunedRoundTrip
    // must carry the flag predicate as a PartitionFilter (directory-level
    // pruning), never as row-level post-scan filtering of all partitions
    val dir = tmp()
    val src = Tables.load(spark, sfDir, "lineitem")
      .select(Sinks.PrunedCols.map(col): _*)
    Sinks.parquetPartitioned(src, s"$dir/q105", Seq("l_returnflag"))
    val agg = Sinks.prunedAgg(spark.read.parquet(s"$dir/q105"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"), plan)
    // physical file selection checked on the filter-only frame (the agg's
    // plan is AQE-wrapped, hiding the scan node from collectLeaves)
    val pruned = spark.read.parquet(s"$dir/q105")
      .filter(col("l_returnflag") === "R")
    val scannedFiles = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.toSeq.map(_.urlEncodedPath)
    }.flatten
    assert(scannedFiles.nonEmpty &&
      scannedFiles.forall(_.contains("l_returnflag=R")), scannedFiles.take(3))
  }

  test("q106 scan shape: key-range predicate is pushed to the parquet scan") {
    // the q106 plan guard: the range predicate must reach the FileScan as
    // PushedFilters so footer min/max stats can skip row groups — the
    // whole point of the clustered layout
    val dir = tmp()
    val src = Tables.load(spark, sfDir, "lineitem")
      .select(Sinks.PrunedCols.map(col): _*)
    Sinks.parquetClustered(src, s"$dir/q106", Seq("l_orderkey"), numFiles = 8)
    val back = spark.read.parquet(s"$dir/q106")
      .filter(col("l_orderkey").between(1000L, 5000L))
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_orderkey,1000)") &&
      plan.contains("LessThanOrEqual(l_orderkey,5000)"), plan)
    assert(back.count() ===
      src.filter(col("l_orderkey").between(1000L, 5000L)).count())
  }

  test("q137 scan shape: both box bounds are pushed to the Z-ordered scan") {
    // the q137 plan guard: BOTH dimensions' range predicates must reach
    // the FileScan as PushedFilters — row groups laid out on the Morton
    // curve are then skippable via footer min/max on the raw columns
    val dir = tmp()
    val src = Tables.load(spark, sfDir, "lineitem").select(
      "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    Sinks.parquetZOrdered(src, s"$dir/q137", "l_partkey", "l_suppkey",
      numFiles = 16)
    // the Morton sort key is layout-only: written files carry exactly the
    // original columns
    val back = spark.read.parquet(s"$dir/q137")
    assert(back.columns.toSeq.sorted === src.columns.toSeq.sorted)
    val boxed = back.filter(col("l_partkey").between(100L, 400L) &&
      col("l_suppkey").between(10L, 40L))
    // the rendered plan truncates long PushedFilters lists — assert on the
    // scan node's full metadata instead
    val pushed = boxed.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata("PushedFilters")
    }.mkString
    Seq("GreaterThanOrEqual(l_partkey,100)", "LessThanOrEqual(l_partkey,400)",
        "GreaterThanOrEqual(l_suppkey,10)", "LessThanOrEqual(l_suppkey,40)")
      .foreach(p => assert(pushed.contains(p), pushed))
    assert(boxed.count() === src.filter(col("l_partkey").between(100L, 400L) &&
      col("l_suppkey").between(10L, 40L)).count())
    // the curve layout actually localizes the box: the 2-D predicate's
    // rows concentrate in a strict subset of the written files
    val matched = boxed.select(input_file_name()).distinct().count()
    val total = back.select(input_file_name()).distinct().count()
    assert(matched < total, s"box rows spread over all $total files")
  }

  test("q323 hilbert index: bijective onto the grid and UNIT-STEP — " +
      "consecutive indexes are always grid neighbors (Morton is not)") {
    val order = 5
    val n = 1 << order // 32×32 grid
    val cells = spark.range(n.toLong * n)
      .select((col("id") / n).cast("long").as("x"),
        (col("id") % n).cast("long").as("y"))
      .select(col("x"), col("y"),
        Sinks.hilbertC(col("x"), col("y"), order).as("d"))
      .collect()
      .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
    // bijection: every index in [0, n²) hit exactly once; (0,0) → 0
    assert(cells.map(_._1).sorted.toSeq === (0L until n.toLong * n))
    assert(cells.find(_._2 == ((0L, 0L))).get._1 === 0L)
    // the defining property: the walk takes only unit steps
    cells.sortBy(_._1).map(_._2).sliding(2).foreach {
      case Array((xa, ya), (xb, yb)) =>
        assert(math.abs(xa - xb) + math.abs(ya - yb) === 1,
          s"jump between d-consecutive cells ($xa,$ya)→($xb,$yb)")
      case _ => ()
    }
    // ... which Morton provably lacks on the same grid (sanity that the
    // comparison below contrasts genuinely different curves)
    val mortonJumps = spark.range(n.toLong * n)
      .select((col("id") / n).cast("long").as("x"),
        (col("id") % n).cast("long").as("y"))
      .select(Sinks.mortonC(col("x"), col("y")).as("d"), col("x"), col("y"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .sortBy(_._1).map(_._2).sliding(2).count {
        case Array((xa, ya), (xb, yb)) =>
          math.abs(xa - xb) + math.abs(ya - yb) > 1
        case _ => false
      }
    assert(mortonJumps > 0)
  }

  test("q323 locality head-to-head: Hilbert files carry a tighter mean " +
      "2-D extent than Z-order files on the same write") {
    val dir = tmp()
    val src = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice")
    Sinks.parquetZOrdered(src, s"$dir/z", "l_partkey", "l_suppkey", 16)
    Sinks.parquetHilbert(src, s"$dir/h", "l_partkey", "l_suppkey", 16)
    def meanBoxArea(path: String): Double =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(((max("l_partkey") - min("l_partkey") + 1) *
          (max("l_suppkey") - min("l_suppkey") + 1)).as("area"))
        .agg(avg("area")).head().getDouble(0)
    val (zArea, hArea) = (meanBoxArea(s"$dir/z"), meanBoxArea(s"$dir/h"))
    assert(hArea <= zArea,
      s"hilbert mean file box $hArea > morton $zArea")
    // and the box predicate still prunes: matched files ⊂ all files
    val back = spark.read.parquet(s"$dir/h")
    val boxed = back.filter(col("l_partkey").between(500L, 900L) &&
      col("l_suppkey").between(20L, 60L))
    val matched = boxed.select(input_file_name()).distinct().count()
    val total = back.select(input_file_name()).distinct().count()
    assert(matched < total, s"box rows spread over all $total files")
  }

  test("q324 mergeSchema: both vintages in one scan — the added column " +
      "is NULL exactly on gen-1 rows, values exact on gen-2, no row lost") {
    val dir = tmp()
    val base = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    base.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/docs")
    base.filter(col("doc_id") % 2 === 1)
      .withColumn("tok_est", expr("n_chars div 5"))
      .write.mode("append").parquet(s"$dir/docs")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/docs")
    assert(merged.columns.toSet ===
      Set("doc_id", "source", "n_chars", "tok_est"))
    assert(merged.count() === base.count())
    // NULL ⟺ gen 1 (even doc_id); gen-2 values exact
    assert(merged.filter(col("tok_est").isNull &&
      col("doc_id") % 2 === 1).count() === 0)
    assert(merged.filter(col("tok_est").isNotNull &&
      col("doc_id") % 2 === 0).count() === 0)
    assert(merged.filter(col("tok_est").isNotNull &&
      col("tok_est") =!= expr("n_chars div 5")).count() === 0)
  }

  test("q333 manifest prune: the file list shrinks, the manifest " +
      "accounts for every row, and the pruned read loses nothing") {
    val dir = tmp()
    val src = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    src.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$dir/data")
    val back = spark.read.parquet(s"$dir/data")
    val manifest = back.groupBy(input_file_name().as("file"))
      .agg(min("l_partkey").as("lo"), max("l_partkey").as("hi"),
        count(lit(1)).as("rows")).collect()
    assert(manifest.map(_.getAs[Long]("rows")).sum === src.count())
    // box from data quantiles so the test is scale-independent (the
    // fixture's key range grows with SF; a fixed box can go empty)
    val qs = src.stat.approxQuantile("l_partkey", Array(0.3, 0.6), 0.0)
    val (p1, p2) = (qs(0).toLong, qs(1).toLong)
    val keep = manifest.filter(r =>
      r.getAs[Long]("hi") >= p1 && r.getAs[Long]("lo") <= p2)
    assert(keep.length < manifest.length,
      s"prune kept all ${manifest.length} files")
    assert(keep.nonEmpty)
    // nothing lost: rows in range within pruned files == full-scan count
    val prunedCnt = spark.read
      .parquet(keep.map(_.getAs[String]("file")).toIndexedSeq: _*)
      .filter(col("l_partkey").between(p1, p2)).count()
    assert(prunedCnt ===
      back.filter(col("l_partkey").between(p1, p2)).count())
  }

  test("q334 fixed-width DSv2: filter pushed into the scan, columns " +
      "pruned, one partition per file, values equal a substring reparse") {
    val dir = tmp()
    val src = graft.sources.Tables.load(spark, sfDir, "lineitem")
    src.select(concat(
        lpad(col("l_orderkey").cast("string"), 12, " "),
        lpad(col("l_suppkey").cast("string"), 8, " "),
        lpad(round(col("l_quantity") * 10000).cast("long").cast("string"),
          12, " "),
        col("l_returnflag")).as("value"))
      .repartition(4)
      .write.mode("overwrite").text(s"$dir/fw")
    val spec = "l_orderkey:0:12:long,l_suppkey:12:8:long," +
      "l_q4:20:12:long,l_returnflag:32:1:string"
    val fw = spark.read
      .format("graft.sources.fixedwidth.FixedWidthSource")
      .option("spec", spec).load(s"$dir/fw")
    // column pruning + filter pushdown are visible in the executed plan
    val q = fw.filter(col("l_suppkey") <= 5L)
      .select("l_returnflag", "l_suppkey")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LessThanOrEqual(l_suppkey,5)"), plan.take(800))
    assert(!plan.contains("l_orderkey"), "pruned column leaked into scan")
    // partition-per-file parallelism
    assert(q.rdd.getNumPartitions === 4)
    // value parity against an independent substring reparse of the files
    val reparse = spark.read.text(s"$dir/fw")
      .select(trim(substring(col("value"), 13, 8)).cast("long")
        .as("l_suppkey"),
        substring(col("value"), 33, 1).as("l_returnflag"))
      .filter(col("l_suppkey") <= 5L)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = q.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === reparse)
    assert(got.values.sum > 0, "pushed filter selected nothing — vacuous")
  }

  test("morton interleave: bit-exact spread and 2-D locality ordering") {
    // golden values: interleave(x,y) places x bits at even positions
    val rows = spark.range(1).select(
      Sinks.mortonC(lit(0L), lit(0L)).as("z00"),
      Sinks.mortonC(lit(1L), lit(0L)).as("z10"),
      Sinks.mortonC(lit(0L), lit(1L)).as("z01"),
      Sinks.mortonC(lit(3L), lit(5L)).as("z35"),
      Sinks.mortonC(lit(0x7FFFFFFFL), lit(0x7FFFFFFFL)).as("zmax"))
      .head()
    assert(rows.getLong(0) === 0L)
    assert(rows.getLong(1) === 1L)
    assert(rows.getLong(2) === 2L)
    // x=3 (11b) → bits 0,2; y=5 (101b) → bits 1,5 → 100111b = 39
    assert(rows.getLong(3) === 39L)
    // full-width inputs stay non-negative (62 bits used)
    assert(rows.getLong(4) === 0x3FFFFFFFFFFFFFFFL)
  }

  test("q139 layout contract: one sorted file per shard=K directory") {
    val dir = tmp()
    import graft.functions.TextPrims.hex60C
    val src = Tables.load(spark, sfDir, "documents")
    val shards = 4
    src.withColumn("shard",
        pmod(hex60C(md5(col("doc_id").cast(org.apache.spark.sql.types.StringType))),
          lit(shards.toLong)))
      .repartition(shards, col("shard"))
      .sortWithinPartitions("doc_id")
      .write.partitionBy("shard").parquet(s"$dir/exp")
    val dirs = Option(new java.io.File(s"$dir/exp").listFiles)
      .getOrElse(Array.empty).filter(_.isDirectory)
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(dirs.nonEmpty && dirs.length <= shards)
    // one file per shard directory (repartition on the shard key), and
    // rows inside each file are doc_id-sorted
    dirs.foreach { d =>
      val files = d.listFiles.filter(f => f.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName}: ${files.length} files")
      val ids = spark.read.parquet(files.head.getAbsolutePath)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(ids === ids.sorted, s"${d.getName} not sorted")
    }
    // shard assignment is a pure function of doc_id: re-deriving it from
    // the read-back equals the directory the row landed in
    val back = spark.read.parquet(s"$dir/exp")
    assert(back.filter(
      pmod(hex60C(md5(col("doc_id").cast(org.apache.spark.sql.types.StringType))),
        lit(shards.toLong)) =!= col("shard")).count() === 0)
    assert(back.count() === src.count())
  }

  test("q132 layout contract: compaction bin-packs tiny files to computed count") {
    // the q132 file-count guard: the rewrite must land on
    // ceil(bytes/targetBytes) files (floor 1), collapsing the fragmented
    // layout — and lose nothing
    val dir = tmp()
    val src = Tables.load(spark, sfDir, "lineitem")
      .select(Sinks.PrunedCols.map(col): _*)
    src.repartition(64).write.mode("overwrite").parquet(s"$dir/frag")
    def parquetFiles(p: String): Seq[java.io.File] =
      Option(new java.io.File(p).listFiles).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    val fragFiles = parquetFiles(s"$dir/frag")
    assert(fragFiles.size === 64)
    val fragBytes = fragFiles.map(_.length).sum
    // target sized to land on >1 file, so the computed-count path (not
    // just the floor-1 clamp) is what's being asserted
    val target = math.max(1L, fragBytes / 3)
    val n = Sinks.compactParquet(spark, s"$dir/frag", src.schema,
      s"$dir/out", Seq("l_orderkey"), targetBytes = target)
    assert(n === ((fragBytes + target - 1) / target).toInt && n > 1)
    assert(parquetFiles(s"$dir/out").size === n)
    assert(spark.read.parquet(s"$dir/out").count() === src.count())
  }

  test("dynamic partition overwrite touches only incoming partitions (backfill)") {
    // the standard warehouse backfill: rewrite one partition's data in
    // place without dropping sibling partitions (static overwrite mode
    // would truncate the whole table)
    val dir = tmp()
    val orders = Tables.load(spark, sfDir, "orders")
    Sinks.parquetPartitioned(orders, s"$dir/t", Seq("o_orderstatus"))
    val before = spark.read.parquet(s"$dir/t").count()
    Sinks.parquetPartitioned(
      orders.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      s"$dir/t", Seq("o_orderstatus"), dynamicOverwrite = true)
    val after = spark.read.parquet(s"$dir/t")
    assert(after.count() === before) // sibling partitions survived
    val expectedF = orders.filter(col("o_orderstatus") === "F")
      .agg(org.apache.spark.sql.functions.sum(col("o_totalprice") * 2))
      .first().getDouble(0)
    val gotF = after.filter(col("o_orderstatus") === "F")
      .agg(org.apache.spark.sql.functions.sum(col("o_totalprice")))
      .first().getDouble(0)
    assert(math.abs(gotF - expectedF) < 1e-6) // F partition was rewritten
  }

  test("JsonDirSink writes result documents (S5/S7 offline stand-in)") {
    val dir = tmp()
    import spark.implicits._
    val doc = Seq(("rf", 0.81, 42)).toDF("model", "accuracy", "seed")
    new Sinks.JsonDirSink(dir).write("model_results", doc)
    val back = spark.read.json(s"$dir/model_results")
    assert(back.count() === 1)
    assert(back.head.getAs[Double]("accuracy") === 0.81)
  }

  test("knnResultsDoc matches the reference's knn_results collection shape (S7)") {
    // field-for-field parity with knn_classification.py:253-263's
    // results_doc, written to a collection name mongo-init.js creates
    val dir = tmp()
    val collection = "knn_results"
    assert(Sinks.MongoCollections.contains(collection))
    val doc = Sinks.knnResultsDoc(spark, "2026-08-12T00:00:00",
      featuresUsed = Seq("Start_Lat", "Start_Lng", "Distance_mi"),
      metrics = Map("accuracy" -> 0.8054, "f1" -> 0.732, "optimal_k" -> 5.0),
      k = 5)
    new Sinks.JsonDirSink(dir).write(collection, doc)
    val back = spark.read.json(s"$dir/$collection")
    assert(back.count() === 1)
    // exact top-level document fields, as the reference builds them
    assert(back.columns.sorted.toSeq ===
      Seq("features_used", "metrics", "model_name", "parameters", "timestamp"))
    val row = back.head
    assert(row.getAs[String]("model_name") === "kNN")
    assert(row.getSeq[String](row.fieldIndex("features_used")) ===
      Seq("Start_Lat", "Start_Lng", "Distance_mi"))
    // nested parameters: {k, distance_metric="euclidean"} (py:258-261)
    val params = row.getStruct(row.fieldIndex("parameters"))
    assert(params.schema.fieldNames.sorted.toSeq === Seq("distance_metric", "k"))
    assert(params.getAs[String]("distance_metric") === "euclidean")
    assert(params.getAs[Long]("k") === 5L)
    // nested metrics carry every supplied metric by name
    val metrics = row.getStruct(row.fieldIndex("metrics"))
    assert(metrics.schema.fieldNames.sorted.toSeq ===
      Seq("accuracy", "f1", "optimal_k"))
    assert(metrics.getAs[Double]("accuracy") === 0.8054)
  }

  test("catalog: external CSV table + managed ORC table + SQL entry (S8, S9)") {
    val dir = tmp()
    val src = Tables.load(spark, sfDir, "nation")
    Sinks.csvSample(src, s"$dir/nation_csv", 1000)
    Catalog.createExternalCsv(spark, "nation_ext", s"$dir/nation_csv",
      src.schema)
    assert(spark.sql("SELECT count(*) FROM nation_ext").head.getLong(0) ===
      src.count())
    // default warehouse dir (spark.sql.warehouse.dir is a static conf);
    // DROP TABLE below removes the managed files
    Catalog.saveAsManagedTable(src, "nation_orc", "orc")
    assert(spark.sql("SELECT count(*) FROM nation_orc").head.getLong(0) ===
      src.count())
    spark.sql("DROP TABLE nation_orc")
    spark.sql("DROP TABLE nation_ext")
  }

  test("bucketed tables co-locate the join: no shuffle on either side") {
    // the 100 TB join strategy SURVEY §2.1/S9 points at: both sides
    // bucketed+sorted on the join key, same bucket count → the sort-merge
    // join reads buckets directly, zero Exchange in the plan. Guards
    // q110's EXACT production builders (Sinks.bucketedWrite/bucketedJoin),
    // so the benchmarked layout can't drift from the proven one.
    Sinks.bucketedWrite(Tables.load(spark, sfDir, "orders"),
      "o_custkey", "orders_b")
    Sinks.bucketedWrite(Tables.load(spark, sfDir, "customer"),
      "c_custkey", "customer_b")
    try {
      val joined = Sinks.bucketedJoin(spark, "orders_b", "customer_b")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() ===
        Tables.load(spark, sfDir, "orders").join(
          Tables.load(spark, sfDir, "customer"),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.sql("DROP TABLE orders_b")
      spark.sql("DROP TABLE customer_b")
    }
  }

  test("registerTestdata exposes all tables to spark.sql (SQL entry)") {
    Catalog.registerTestdata(spark, sfDir)
    val n = spark.sql(
      """SELECT n.n_name, count(*) AS c FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
    assert(n.count() > 0)
  }

  test("events.ts always loads as TimestampType (never TIMESTAMP_NTZ)") {
    import org.apache.spark.sql.types._
    // the driver's fixtures have shipped both TIMESTAMP(NANOS) (read as
    // Long under the legacy conf, converted in the loader) and
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark 4 would infer
    // as TIMESTAMP_NTZ by default — rejected by unix_micros, watermarks
    // and stream-stream joins). Both paths must land on TimestampType.
    assert(Tables.load(spark, sfDir, "events").schema("ts").dataType ===
      TimestampType)
    // the session conf (not the loader) must already cover the raw scan:
    // the fixture IS a pyarrow naive-micros file, the exact shape the
    // inference conf exists for. (A Spark-written NTZ file embeds Spark's
    // own schema metadata, which bypasses inference — that path is what
    // the loader's cast branch catches for unconfigured sessions.)
    assert(spark.read.parquet(s"$sfDir/events.parquet")
      .schema("ts").dataType === TimestampType)
    // and the consumers that rejected NTZ must work end-to-end
    assert(Tables.load(spark, sfDir, "events")
      .selectExpr("unix_micros(ts) AS us").filter("us IS NOT NULL")
      .count() > 0)
  }

  test("q349 bloom index actually prunes: the probe set selects a " +
      "strict subset of files, and no file containing a probe is skipped") {
    import org.apache.spark.sql.functions._
    val dir = tmp() + "/bloomdata"
    val src = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_suppkey")
    src.repartition(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(dir)
    val blooms = graft.sources.Sinks.bloomIndex(spark, dir, src.schema,
      "l_orderkey")
    assert(blooms.size === 8)
    val probes = Seq(7L, 1007L)
    val keep = blooms.collect {
      case (f, bf) if probes.exists(bf.mightContain) => f
    }.toSet
    assert(keep.nonEmpty && keep.size < blooms.size,
      s"bloom index pruned nothing: ${keep.size}/${blooms.size}")
    // soundness: every file that truly contains a probe key is kept
    val truth = spark.read.parquet(dir)
      .filter(col("l_orderkey").isin(probes: _*))
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(truth.subsetOf(keep), s"bloom skipped ${truth diff keep}")
  }

  test("q347 deletion vector removes exactly the marked positions — " +
      "counts reconcile: alive + |DV| = total") {
    import org.apache.spark.sql.functions._
    val dir = tmp() + "/dvdata"
    graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag")
      .repartition(4, col("l_orderkey"))
      .write.mode("overwrite").parquet(dir)
    val withPos = spark.read.parquet(dir)
      .select(col("*"), col("_metadata.file_path").as("fp"),
        col("_metadata.row_index").as("pos"))
    val dv = withPos.filter(pmod(col("l_orderkey"), lit(13L)) === 0)
      .select("fp", "pos")
    val total = withPos.count()
    val deleted = dv.count()
    assert(deleted > 0, "fixture produced an empty DV — vacuous test")
    val alive = withPos.join(dv, Seq("fp", "pos"), "left_anti").count()
    assert(alive + deleted === total)
    // positional identity: (fp,pos) is unique — a duplicate index would
    // silently over-delete through the anti join
    assert(withPos.groupBy("fp", "pos").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("q339 write path is exactly-once under an aborted-then-retried " +
      "task attempt: abort leaves NOTHING visible, retry commits ONE file") {
    import graft.sources.fixedwidth._
    import org.apache.spark.sql.catalyst.InternalRow
    val dir = tmp() + "/fwsink"
    new java.io.File(dir).mkdirs()
    val spec = FixedWidthSource.parseSpec("k:0:8:long,v:8:12:string")
    val hc = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    def visible(): Seq[String] = new java.io.File(dir).listFiles().toSeq
      .map(_.getName).filter(n => !n.startsWith(".") && !n.startsWith("_"))
      .sorted
    def allFiles(): Seq[String] =
      new java.io.File(dir).listFiles().toSeq.map(_.getName)
    val bw = new FwBatchWrite(spec, dir, truncate = false, hc)
    val factory = new FwWriterFactory(spec, dir, hc)
    def row(k: Long, v: String) = InternalRow(k,
      org.apache.spark.unsafe.types.UTF8String.fromString(v))
    // attempt 0 writes rows then ABORTS (simulated task failure)
    val w0 = factory.createWriter(0, 0L)
    w0.write(row(1L, "a")); w0.write(row(2L, "b"))
    w0.abort()
    assert(visible().isEmpty, "aborted attempt left visible output")
    assert(allFiles().isEmpty, "aborted attempt left its temp file behind")
    // attempt 1 (the retry) writes the same rows and commits
    val w1 = factory.createWriter(0, 1L)
    w1.write(row(1L, "a")); w1.write(row(2L, "b"))
    val msg = w1.commit()
    // task commit alone is NOT visibility — only job commit renames
    assert(visible().isEmpty, "task-committed temp already visible")
    bw.commit(Array(msg))
    assert(visible().size === 1, s"expected exactly one part file: ${visible()}")
    val got = spark.read
      .format("graft.sources.fixedwidth.FixedWidthSource")
      .option("spec", "k:0:8:long,v:8:12:string").load(dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "b")))
    // truncate mode replaces, append mode adds
    val bwT = new FwBatchWrite(spec, dir, truncate = true, hc)
    val w2 = factory.createWriter(0, 2L)
    w2.write(row(9L, "z"))
    bwT.commit(Array(w2.commit()))
    assert(visible().size === 1)
    val got2 = spark.read
      .format("graft.sources.fixedwidth.FixedWidthSource")
      .option("spec", "k:0:8:long,v:8:12:string").load(dir)
      .collect().map(_.getLong(0)).toSeq
    assert(got2 === Seq(9L))
    // job-level abort cleans the staged temp of a committed TASK
    val w3 = factory.createWriter(0, 3L)
    w3.write(row(7L, "y"))
    val m3 = w3.commit()
    bw.abort(Array(m3))
    assert(allFiles().count(_.startsWith(".tmp")) === 0,
      "job abort left staged temps")
    assert(got2 === Seq(9L), "job abort changed visible data")
  }

  test("q339 truncate commit is rename-first: a commit that dies before " +
      "finishing leaves the PREVIOUS data intact (no zero-data window)") {
    import graft.sources.fixedwidth._
    val dir = tmp() + "/fwtrunc"
    new java.io.File(dir).mkdirs()
    val spec = FixedWidthSource.parseSpec("k:0:8:long")
    val hc = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    java.nio.file.Files.writeString(
      new java.io.File(dir, "part-old.fw").toPath, "00000001\n")
    // a truncate commit whose rename FAILS (missing staged temp) must
    // throw BEFORE any old file is deleted — delete runs strictly after
    // all renames succeed
    val bwT = new FwBatchWrite(spec, dir, truncate = true, hc)
    intercept[java.io.IOException] {
      bwT.commit(Array(FwCommitMessage(s"$dir/.tmp-does-not-exist",
        "part-new.fw")))
    }
    assert(new java.io.File(dir, "part-old.fw").exists(),
      "failed truncate commit deleted the previous data")
    // and a SUCCESSFUL truncate commit still replaces it
    val w = new FwWriterFactory(spec, dir, hc).createWriter(0, 0L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(7L))
    bwT.commit(Array(w.commit()))
    val names = new java.io.File(dir).listFiles().toSeq.map(_.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_"))
    assert(!names.contains("part-old.fw") && names.size === 1)
  }

  test("q339 writer fails LOUDLY on unrepresentable values: null, " +
      "over-wide, and untrimmable strings") {
    import graft.sources.fixedwidth._
    import org.apache.spark.sql.catalyst.InternalRow
    val dir = tmp() + "/fwbad"
    new java.io.File(dir).mkdirs()
    val spec = FixedWidthSource.parseSpec("k:0:4:long,v:4:4:string")
    val hc = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val factory = new FwWriterFactory(spec, dir, hc)
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    val w = factory.createWriter(0, 0L)
    val eNull = intercept[IllegalArgumentException] {
      w.write(InternalRow(null, u("x")))
    }
    assert(eNull.getMessage.contains("NULL"))
    val eWide = intercept[IllegalArgumentException] {
      w.write(InternalRow(123456L, u("x")))
    }
    assert(eWide.getMessage.contains("exceeds"))
    val eTrim = intercept[IllegalArgumentException] {
      w.write(InternalRow(1L, u(" x ")))
    }
    assert(eTrim.getMessage.contains("whitespace"))
    w.abort()
    assert(new java.io.File(dir).listFiles().isEmpty)
  }

  test("withScratch: a body that throws leaves its dir gone") {
    var dir: java.nio.file.Path = null
    val e = intercept[IllegalStateException] {
      Tables.withScratch("bracket") { d =>
        dir = d
        java.nio.file.Files.writeString(d.resolve("f.txt"), "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(dir != null && !java.nio.file.Files.exists(dir))
  }

  test("scratchQuery: the result stays readable after its dir is deleted") {
    var dir: java.nio.file.Path = null
    val df = Tables.scratchQuery("bracket") { d =>
      dir = d
      val p = d.resolve("data").toString
      spark.range(100).toDF("id").write.parquet(p)
      spark.read.parquet(p).filter(col("id") % 3 === 0)
    }
    assert(!java.nio.file.Files.exists(dir))
    assert(df.count() === 34)
    assert(df.agg(sum("id")).head().getLong(0) === (0L until 100L by 3).sum)
  }

  test("q132, q382, q170, q180 and q405 leave the scratch root as it was") {
    // only the five queries' own dirs: the root is shared with every other
    // graft JVM on the host, whose dirs come and go meanwhile
    val own = Seq("graft-q132", "graft-q382", "graft-q170", "graft-q180",
      "graft-q405")
    def listing(): Set[String] =
      Option(Tables.scratchRoot.toFile.list()).map(_.toSet)
        .getOrElse(Set.empty).filter(d => own.exists(d.startsWith))
    val before = listing()
    Seq("q132_compaction", "q382_format_certificate",
        "q170_ann_ivf_persisted", "q180_curated_export",
        "q405_binaryfile_source")
      .foreach(name => SparkEntry.queries(name)(spark, sfDir).count())
    assert(listing() === before)
  }
}
