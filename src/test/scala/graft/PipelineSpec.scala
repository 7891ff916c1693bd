package graft

import org.apache.spark.sql.functions._

/** End-to-end golden run of the whole orchestration
  * ([[graft.app.PipelineMain]]): clean/text → dedup → kNN → RF → K-Means
  * elbow+fit → every sink, as ONE program over the fixture — the
  * "stages compose" proof the per-operator specs imply but never
  * execute together. Asserts the full output-directory layout the
  * reference commits from its own pipeline runs: one JSON document
  * collection per result family plus the clustered sample CSV. */
class PipelineSpec extends SparkSpec {

  test("PipelineMain composes all stages and writes the full output layout") {
    val outDir = tmp()
    val collections = graft.app.PipelineMain.run(spark, sfDir, outDir)

    // every declared collection landed as a single-part JSON dir
    // (coalesce(1) — the Mongo-document-per-line layout, S5/S7)
    collections.foreach { c =>
      val dir = new java.io.File(s"$outDir/$c")
      assert(dir.isDirectory, s"missing collection dir: $c")
      val parts = Option(dir.listFiles).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      assert(parts.length === 1, s"$c: expected one JSON part, got ${parts.length}")
      assert(parts.head.length > 0, s"$c: empty JSON part")
      assert(spark.read.json(s"$outDir/$c").count() > 0, s"$c: no documents")
    }

    // result-shape spot checks: the per-class metric table carries the
    // evaluation columns, the centers table one row per final cluster
    val perClass = spark.read.json(s"$outDir/rf_per_class")
    assert(Seq("cls", "precision", "recall", "f1")
      .forall(perClass.columns.contains), perClass.columns.toSeq)
    val centers = spark.read.json(s"$outDir/kmeans_centers")
    assert(centers.count() >= 2) // elbow never selects k < 2

    // the clustered sample CSV (the reference's committed
    // clustered_2m_sample.csv shape): header + exactly the limit rows
    val sample = spark.read.option("header", "true")
      .csv(s"$outDir/clustered_sample")
    assert(sample.columns.toSeq === Seq("vec_id", "label", "cluster"))
    assert(sample.count() === 100)
    assert(sample.select(countDistinct(col("cluster"))).head.getLong(0) >= 2)
  }
}
