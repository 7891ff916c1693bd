package graft
import org.apache.spark.sql.execution.FormattedMode
/** Prints the formatted physical plan of each named query (the
  * `.explain("formatted")` dumps under plans/).
  *
  * Usage: Explain <sfDir> <query>... */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.sources.Tables.session("graft-explain")
    args.drop(1).foreach { q =>
      println(s"===== $q =====")
      // some builds run eager jobs: label them with the query too
      println(Query.labelled(spark, q)(SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
