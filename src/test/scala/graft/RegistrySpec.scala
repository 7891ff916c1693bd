package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `SparkEntry.oracleSql` are derived from the
  * `Query` lists every module declares. These tests pin the registry's
  * names and its oracle text, and guard the derivation: a name declared
  * twice, a null builder, or a map rebuilt on every read. */
class RegistrySpec extends AnyFunSuite {
  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, orphans)
  }

  test("404 queries, 399 oracle-checked, and exactly five rows-only") {
    assert(SparkEntry.queries.size == 404)
    assert(SparkEntry.oracleSql.size == 399)
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set(
      "q36_kmeans_stats", "q37_rf_metrics", "q38_kmeans_elbow",
      "q39_knn_broadcast", "q81_approx_stats"))
  }

  test("the oracle SQL text is pinned by one digest") {
    val text = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (name, sql) => name + "\u0000" + sql }.mkString("\n")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(sha ==
      "f85ef5242664433558d333cd418b465679fe4f60cdae42e10dce17863b17fcf9")
  }

  test("a name declared twice fails the registry and is named") {
    val q = Query("q_twice", graft.analytics.Relational.groupCount _, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      SparkEntry.distinct(Seq(q, Query.rowsOnly(q.name, q.build))))
    assert(e.getMessage.contains("q_twice"), e.getMessage)
    assert(SparkEntry.distinct(Seq(q)) == Seq(q))
  }

  test("every declared query has a builder") {
    assert(SparkEntry.declared.size == 404)
    val unbuilt = SparkEntry.declared.filter(_.build == null).map(_.name)
    assert(unbuilt.isEmpty, unbuilt)
  }

  test("the registry maps are built once") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }
}
