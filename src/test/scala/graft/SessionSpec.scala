package graft

import graft.sources.Tables

/** The shared test session is built by `Tables.session`, so it must carry
  * the whole session policy. */
class SessionSpec extends SparkSpec {
  test("shared session carries every sessionConfigs entry") {
    Tables.sessionConfigs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("shared session runs local[4] with 4 shuffle partitions and no UI") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("Bench's total line carries the host fingerprint and parses") {
    val line = s"""{"metric":"total",${Bench.host(spark, 4)}}"""
    val js = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    Seq("cpus", "master", "mem_total_kb", "jdk", "spark", "git_sha")
      .foreach(k => assert(js.has(k), s"$k missing from $line"))
    assert(js.get("cpus").asInt == 4 && js.get("master").asText == "local[4]")
    assert(js.get("spark").asText == spark.version)
    assert(js.get("jdk").asText == System.getProperty("java.runtime.version"))
    assert(js.get("mem_total_kb").isNull || js.get("mem_total_kb").asLong > 0)
    assert(js.get("git_sha").isNull ||
      js.get("git_sha").asText.matches("[0-9a-f]{40}"), line)
  }
}
