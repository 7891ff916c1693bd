package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.{Advanced, ExactQuantile, Relational}
import graft.dedup.Dedup
import graft.ml.{AlsFactor, GiniStump, KMeansJob, Knn, LloydExact, LogitGd,
  PcaPower, PqCodebook, RandomForestJob}
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.sources.Sinks
import graft.sql.Catalog
import graft.streaming.EventStream
import graft.text.{BpeTrain, TextOps}

/** The query registry. Each module declares its own queries, with their
  * oracle SQL, in its `queries` list (see [[Query]]). This object only
  * gathers them: `queries` for every runner and the pipebench harness,
  * `oracleSql` for Verify's `oracle_sql.json`, which the DuckDB compare
  * reads. Column names and types are aligned between both sides. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.multiAgg(spark, "/root/testdata/sf0.001")

  /** Every declared query, gathered once per JVM. */
  private[graft] lazy val declared: Seq[Query] = distinct(Seq(
    Relational.queries, Catalog.queries, Sinks.queries, Advanced.queries,
    ExactQuantile.queries, TextOps.queries, BpeTrain.queries, Dedup.queries,
    Similarity.queries, Multimodal.queries, EventStream.queries,
    KMeansJob.queries, RandomForestJob.queries, Knn.queries,
    LloydExact.queries, GiniStump.queries, PqCodebook.queries,
    PcaPower.queries, LogitGd.queries, AlsFactor.queries).flatten)

  /** `qs`, after checking that no name is declared twice. */
  private[graft] def distinct(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  /** DuckDB-equivalent ANSI SQL per oracle-checked query. Floating
    * aggregates are routed through DECIMAL(18,4) sums on BOTH sides so
    * results are bit-identical regardless of accumulation order (see
    * Relational.dsum). */
  lazy val oracleSql: Map[String, String] =
    declared.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
