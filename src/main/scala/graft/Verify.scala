package graft
import graft.sources.Tables
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — run only matching
    // queries (local iteration aid; the driver always runs the full set)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = Tables.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try Query.labelled(spark, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // same predicate as the parquet loop: a prefix-filtered run must not
    // pair the FULL SQL map with stale/missing parquet on a reused outDir
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // authoritative counts, printed every run so README/PERF claims
    // can be checked against the registry instead of drifting
    val rowsOnly = (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
      .toSeq.sorted
    println(s"[verify] registry: ${SparkEntry.queries.size} queries, " +
      s"${SparkEntry.oracleSql.size} oracle-checked, " +
      s"${rowsOnly.size} rows-only (${rowsOnly.mkString(", ")})")
    // core-count contract made visible (round-17 verdict item 1): the
    // artifact itself records which master the run actually used
    println(s"""[verify] cpus=${Tables.cpus} master=${spark.sparkContext.master} """ +
      s"defaultParallelism=${spark.sparkContext.defaultParallelism}")
    spark.stop()
  }
}
