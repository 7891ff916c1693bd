package graft

import graft.sources.Tables
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `Tables.load` infers a table's parquet schema once per table version and
  * parquet-read confs, and reads with it after that. */
class SchemaCacheSpec extends SparkSpec {
  /** A new dir holding a copy of TESTDATA table `name`: a path no load has
    * resolved yet, so its first load infers. */
  private def freshCopy(name: String): String = {
    val dir = tmp()
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/$name.parquet"),
      java.nio.file.Paths.get(s"$dir/$name.parquet"))
    dir
  }

  test("a table rewritten at the same path is re-resolved, never stale") {
    import spark.implicits._
    val dir = tmp()
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("id", "name").write.parquet(path)
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq ==
      Seq("id", "name"))
    Seq((2.5, true, 7)).toDF("score", "flag", "n")
      .write.mode("overwrite").parquet(path)
    val back = Tables.load(spark, dir, "t")
    assert(back.schema.fieldNames.toSeq == Seq("score", "flag", "n"))
    assert(back.collect().toSeq == Seq(Row(2.5, true, 7)))
  }

  test("events.ts is TimestampType on a first and on a cached load") {
    val dir = freshCopy("events")
    val (first, missJobs) = jobsIn(Tables.load(spark, dir, "events"))
    val (cached, hitJobs) = jobsIn(Tables.load(spark, dir, "events"))
    assert(missJobs >= 1, "the first load infers")
    assert(hitJobs == 0, "the second load reads the resolved schema")
    Seq(first, cached).foreach(df =>
      assert(df.schema("ts").dataType === TimestampType))
    val us = "unix_micros(ts) AS us"
    assert(cached.selectExpr("event_id", us).collect().toSet ==
      first.selectExpr("event_id", us).collect().toSet)
  }

  test("a second registerAll in the same session starts no Spark job") {
    Tables.registerAll(spark, sfDir)
    val (_, jobs) = jobsIn(Tables.registerAll(spark, sfDir))
    assert(jobs == 0)
    assert(spark.table("orders").count() > 0)
  }

  test("concurrent first loads through Tables.wave infer once, one schema") {
    val dir = freshCopy("lineitem")
    val (schemas, jobs) = jobsIn(Tables.wave(Seq.fill(8)(() =>
      Tables.load(spark, dir, "lineitem").schema)))
    assert(schemas.distinct.size == 1)
    assert(schemas.head == spark.read.parquet(s"$dir/lineitem.parquet").schema)
    assert(jobs == 1, "one inference job for eight concurrent loads")
  }

  test("a session whose parquet-read conf differs gets its own resolution") {
    val dir = freshCopy("events")
    val path = s"$dir/events.parquet"
    Tables.load(spark, dir, "events")
    assert(Tables.parquetSchema(spark, path)("ts").dataType === TimestampType)
    val ntz = Map("spark.sql.parquet.inferTimestampNTZ.enabled" -> "true")
    val (df, jobs) = jobsIn(Tables.withConfs(spark, ntz) {
      assert(Tables.parquetSchema(spark, path)("ts").dataType ===
        TimestampNTZType)
      Tables.load(spark, dir, "events")
    })
    assert(jobs >= 1, "the changed conf infers for itself")
    assert(df.schema("ts").dataType === TimestampType, "the loader casts NTZ")
    // the default resolution is still cached beside it
    val (_, back) = jobsIn(Tables.load(spark, dir, "events"))
    assert(back == 0)
  }
}
