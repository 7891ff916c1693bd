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
  }
}
