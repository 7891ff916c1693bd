package graft

import org.apache.spark.sql.graft.listenerBus

class AuditSpec extends SparkSpec {
  test("audit reports stages, tasks and rows, and removes its listener") {
    val q = "q05_group_count"
    val expected = SparkEntry.queries(q)(spark, sfDir).count()
    val before = listenerBus.size(spark.sparkContext)
    val r = Audit.audit(spark, sfDir, q)
    assert(listenerBus.size(spark.sparkContext) == before)
    assert(r.stages >= 1)
    assert(r.tasks >= 1)
    assert(r.rows == expected)
    assert(r.jobs.nonEmpty)
    assert(r.lines.last.startsWith("""{"metric":"audit","name":"q05_group_count""""))
    // bytes, not rounded MB: an sf0.001 scan is far below 0.05 MB
    val inputBytes = """"input_bytes":(\d+)""".r
      .findFirstMatchIn(r.lines.last).map(_.group(1).toLong)
    assert(inputBytes.exists(_ > 0), r.lines.last)
  }

  test("after the first resolution, q355 and q05 run no schema-inference job") {
    for (q <- Seq("q355_filter_agg", "q05_group_count")) {
      SparkEntry.queries(q)(spark, sfDir).count()
      val r = Audit.audit(spark, sfDir, q)
      assert(r.jobs.nonEmpty, q)
      assert(!r.jobs.exists(_.site.startsWith("parquet at Tables.scala")),
        r.lines.mkString("\n"))
    }
  }
}
