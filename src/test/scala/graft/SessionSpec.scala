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
}
