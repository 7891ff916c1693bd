package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `SparkEntry.oracleSql` are two string-keyed
  * maps: an oracle key that names no query would silently turn that query
  * rows-only. */
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
}
