package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query, declared next to the operators it runs: its name,
  * how to build its DataFrame from a session and a TESTDATA dir, and the
  * DuckDB SQL that checks its result (none for a rows-only query).
  *
  * The oracle text is built on its first read, so listing the registry
  * (`SparkEntry.queries`) builds no SQL string. */
final class Query private (val name: String,
                           val build: (SparkSession, String) => DataFrame,
                           sql: => Option[String]) {
  lazy val oracle: Option[String] = sql
}

object Query {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
            oracle: => String): Query = new Query(name, build, Some(oracle))

  /** A query with no SQL oracle: the DuckDB compare checks its row count
    * only, and its specs check the rest. */
  def rowsOnly(name: String, build: (SparkSession, String) => DataFrame)
      : Query = new Query(name, build, None)

  /** Runs `body` with `name` as the description of every Spark job it
    * starts from this thread, and clears the description on every exit. */
  def labelled[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobDescription(name)
    try body finally sc.setJobDescription(null)
  }
}
