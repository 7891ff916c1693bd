package graft.sql

import graft.Query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** SQL catalog surface (SURVEY.md §2.1 S8-S9, §3 "SQL entry"): the role of
  * hive/create_tables.hql re-expressed against the Spark catalog, so plain
  * `spark.sql("SELECT ...")` works over raw and derived tables without a
  * Hive metastore.
  */
object Catalog {

  /** S8: external table over CSV files (create_tables.hql:15-66's
    * `CREATE EXTERNAL TABLE ... ROW FORMAT DELIMITED` equivalent). */
  def createExternalCsv(spark: SparkSession, name: String, path: String,
                        schema: StructType, header: Boolean = true): Unit = {
    val ddlSchema = schema.toDDL
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $name ($ddlSchema)
         |USING csv OPTIONS (header '$header', path '$path')""".stripMargin)
    ()
  }

  /** S9: managed columnar table with snappy (ORC in the reference,
    * create_tables.hql:71-100; parquet offered too — same API shape). */
  def saveAsManagedTable(df: DataFrame, name: String,
                         format: String = "orc"): Unit =
    df.write.format(format).option("compression", "snappy")
      .mode("overwrite").saveAsTable(name)

  /** Register all TESTDATA tables plus derived views; returns table names.
    * (Temp-view flavor of the warehouse — zero metastore dependency.) */
  def registerTestdata(spark: SparkSession, sfDir: String): Seq[String] = {
    graft.sources.Tables.registerAll(spark, sfDir)
    graft.sources.Tables.names
  }

  /** q79: ONE SQL string, two engines. The text below runs unchanged on
    * Spark (via the catalog's registered views — the `spark.sql` entry the
    * reference's Hive tables promise, SURVEY §3 SQL entry) and on DuckDB
    * as its own oracle — API-surface proof that SQL users get the same
    * engine the DataFrame API drives, with dialect-portable casts. */
  val SqlParityText: String =
    """SELECT n_name,
      |  CAST(count(*) AS INTEGER) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  def sqlParity(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.DataFrame = {
    registerTestdata(spark, sfDir)
    spark.sql(SqlParityText)
  }

  /** q353: CORRELATED SCALAR SUBQUERIES — "customers above their own
    * nation's average balance", the textbook decorrelation case: the
    * two correlated scalars (per-nation count and sum) reference the
    * outer row, and Catalyst rewrites them into aggregate joins — the
    * plan a user would hand-write, obtained from the declarative form.
    * One dialect-portable string, two engines (the q79 pattern).
    * Exactness: the avg comparison is cleared of division — balance ×
    * count > sum in DECIMAL arithmetic, so no engine's double rounding
    * can flip a borderline row. */
  val CorrelatedSubqueryText: String =
    """SELECT c_nationkey, CAST(COUNT(*) AS INTEGER) AS n_above
      |FROM customer c
      |WHERE CAST(c_acctbal AS DECIMAL(18,4)) *
      |    (SELECT COUNT(*) FROM customer c2
      |     WHERE c2.c_nationkey = c.c_nationkey)
      |  > (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(18,4)))
      |     FROM customer c3 WHERE c3.c_nationkey = c.c_nationkey)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  def correlatedSubquery(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.DataFrame = {
    registerTestdata(spark, sfDir)
    spark.sql(CorrelatedSubqueryText)
  }

  /** q355: FILTER-CLAUSE AGGREGATES (ISO SQL:2003) — per priority, the
    * conditional sub-aggregates spelled declaratively instead of the
    * CASE-WHEN contortion; Catalyst compiles each FILTER into the same
    * conditional accumulator a hand-written CASE would get, in ONE
    * pass. One string, two engines. */
  val FilterAggText: String =
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS INTEGER) AS n,
      |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS INTEGER)
      |    AS n_finished,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
      |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS sum_open,
      |  CAST(MAX(o_totalprice) FILTER (WHERE o_orderstatus = 'P')
      |    AS DOUBLE) AS max_pending
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  def filterAgg(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.DataFrame = {
    registerTestdata(spark, sfDir)
    spark.sql(FilterAggText)
  }

  /** q363: SQL PIVOT clause — the ISO-ish wide-report spelling of
    * q19's DataFrame pivot: per priority, (count, DECIMAL sum) columns
    * per order status, named by the `'F' AS f … COUNT(*) AS n` aliases.
    * Catalyst compiles the clause to the same single Expand +
    * two-phase hash aggregate as the API form. The oracle mirrors with
    * FILTER-clause aggregates; empty cells are NULL under PIVOT
    * (no row ever lands there), so the count mirror wraps in
    * NULLIF(…, 0) — a pivot cell count is ≥1 or NULL, never 0. */
  def sqlPivot(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.DataFrame = {
    registerTestdata(spark, sfDir)
    spark.sql(
      """SELECT o_orderpriority,
        |  f_n, CAST(f_s AS DOUBLE) AS f_s,
        |  o_n, CAST(o_s AS DOUBLE) AS o_s,
        |  p_n, CAST(p_s AS DOUBLE) AS p_s
        |FROM (SELECT o_orderpriority, o_orderstatus,
        |        CAST(o_totalprice AS DECIMAL(18,4)) AS tp FROM orders)
        |PIVOT (COUNT(*) AS n, SUM(tp) AS s
        |  FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** q364: SQL UNPIVOT clause — q46's melt as the declarative clause,
    * folded straight into a per-metric rollup (count + DECIMAL sum):
    * the wide→long pivot feeding metric-generic downstream operators,
    * one Expand pass, no join. Oracle mirrors with a UNION ALL melt. */
  def sqlUnpivot(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.DataFrame = {
    registerTestdata(spark, sfDir)
    spark.sql(
      """SELECT metric, CAST(COUNT(*) AS INTEGER) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |FROM (SELECT l_quantity, l_extendedprice, l_discount, l_tax
        |      FROM lineitem)
        |UNPIVOT (val FOR metric IN
        |  (l_quantity, l_extendedprice, l_discount, l_tax))
        |GROUP BY metric ORDER BY metric""".stripMargin)
  }

  /** q101: LATERAL correlated join — one dialect-portable string, two
    * engines (the q79 pattern for the lateral surface). Per customer, the
    * top-2 orders by an inner ORDER BY/LIMIT that references the outer
    * row: Catalyst decorrelates it into a ranked window join — the same
    * plan q16's DataFrame top-k compiles to, proving SQL users get the
    * scalable form of the "per-row subquery" they wrote. */
  val LateralTopSqlText: String =
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer,
      |  LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |           WHERE o_custkey = c_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) AS t
      |WHERE c_custkey < 50
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  def lateralTopPerCustomer(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.DataFrame = {
    registerTestdata(spark, sfDir)
    spark.sql(LateralTopSqlText)
  }

  /** q122: correlated EXISTS / NOT EXISTS — churn-shaped cohort: customers
    * active in 1995 with no orders in 1996, plus their 1995 order count
    * via a correlated scalar subquery. One dialect-portable string, two
    * engines (the q79/q101 pattern extended to the quantified-subquery
    * surface). Catalyst rewrites EXISTS → left-semi and NOT EXISTS →
    * left-anti hash joins on o_custkey, and the scalar count to an
    * aggregated left join — all shuffle-partitioned equi-joins, never a
    * per-row probe, so the "subquery per customer" a SQL user writes
    * runs as three hash joins at 100 TB. */
  val ExistsChurnSqlText: String =
    """SELECT c_custkey, c_nationkey,
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey
      |     AND year(o.o_orderdate) = 1995) AS n_1995
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND year(o.o_orderdate) = 1995)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND year(o.o_orderdate) = 1996)
      |ORDER BY c_custkey""".stripMargin

  def existsChurn(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.DataFrame = {
    registerTestdata(spark, sfDir)
    spark.sql(ExistsChurnSqlText)
  }

  /** q337: SQL UDFs (Spark 4) — both kinds, in one oracle-able query,
    * and the reason they DON'T violate this engine's zero-UDF rule
    * (SURVEY §2.11): a `CREATE FUNCTION ... RETURN <expr>` scalar and a
    * `RETURNS TABLE` function are INLINED by Catalyst at resolution —
    * the plan contains the expanded expression / subquery, not a
    * black-box JVM call, so pushdown, pruning and whole-stage codegen
    * all still apply (PlanSpec asserts no ScalaUDF node survives). The
    * query: a dense 8-bucket length histogram whose bucket SPINE comes
    * from the TABLE function (empty buckets stay present — the
    * gap-filled-histogram pattern) and whose token estimate is the
    * scalar function (the shared [[graft.functions.TextPrims]] BPE
    * count, declared once in SQL).
    *
    * Shape at 100 TB: after inlining this is a scan + LEFT JOIN onto
    * an 8-row broadcast spine + hash-agg — the UDF surface costs
    * nothing because it compiles away. */
  def sqlUdfHistogram(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.DataFrame = {
    registerTestdata(spark, sfDir)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_tok_est(t STRING)
        |RETURNS INT
        |RETURN CAST(size(regexp_extract_all(lower(t),
        |  '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS INT)""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_buckets(n INT)
        |RETURNS TABLE(b INT)
        |RETURN SELECT explode(sequence(0, n - 1))""".stripMargin)
    spark.sql(
      """SELECT s.b AS bucket,
        |  CAST(COUNT(d.doc_id) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(graft_tok_est(d.text)), 0) AS BIGINT)
        |    AS n_toks
        |FROM graft_buckets(8) s
        |LEFT JOIN documents d
        |  ON least(CAST(d.n_chars div 256 AS INT), 7) = s.b
        |GROUP BY s.b ORDER BY bucket""".stripMargin)
  }

  /** The registry queries this module declares (see [[graft.Query]]). */
  def queries: Seq[Query] = Seq(
    // the SQL-text entry: one dialect-portable string on both engines
    Query("q79_sql_parity", sqlParity _, SqlParityText),
    // LATERAL correlated join: one portable SQL string on both engines
    Query("q101_lateral_top", lateralTopPerCustomer _, LateralTopSqlText),
    // correlated EXISTS/NOT EXISTS + scalar subquery, one portable string
    Query("q122_exists_churn", existsChurn _, ExistsChurnSqlText),
    // Spark 4 SQL UDFs, scalar + table function, both Catalyst-inlined:
    // gap-filled histogram over a TVF spine with a declared token fn
    // q337: the UDFs inline to exactly this (DuckDB spells the token
    // regex via the shared TextPrims constant)
    Query("q337_sql_udf", sqlUdfHistogram _, {
      import graft.functions.TextPrims.bpeTokensS
      s"""SELECT CAST(s.b AS INTEGER) AS bucket,
         |  CAST(COUNT(d.doc_id) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(SUM(${bpeTokensS("d.text")}), 0) AS BIGINT)
         |    AS n_toks
         |FROM (SELECT CAST(unnest(generate_series(0, 7)) AS INTEGER)
         |    AS b) s
         |LEFT JOIN documents d
         |  ON least(CAST(d.n_chars // 256 AS INT), 7) = s.b
         |GROUP BY s.b ORDER BY s.b""".stripMargin
    }),
    // correlated scalar subqueries, division-free exact comparison
    // q353/q355: the q79 pattern — ONE dialect-portable string is
    // both the Spark query and its own oracle
    Query("q353_correlated_subq", correlatedSubquery _, CorrelatedSubqueryText),
    // ISO FILTER-clause conditional aggregates, one pass
    Query("q355_filter_agg", filterAgg _, FilterAggText),
    // SQL PIVOT clause (multi-agg, aliased values)
    // q363: FILTER-clause mirror of the PIVOT cells; counts wrapped in
    // NULLIF (a pivot cell is >=1 or NULL, never 0)
    Query("q363_sql_pivot", sqlPivot _,
      """SELECT o_orderpriority,
        |  NULLIF(COUNT(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS f_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS f_s,
        |  NULLIF(COUNT(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS o_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS o_s,
        |  NULLIF(COUNT(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS p_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS p_s
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    // SQL UNPIVOT clause folded into a per-metric rollup
    // q364: UNION ALL melt mirror of the UNPIVOT clause
    Query("q364_sql_unpivot", sqlUnpivot _,
      """WITH u AS (
        |  SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice
        |    FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT metric, CAST(COUNT(*) AS INTEGER) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |FROM u GROUP BY metric ORDER BY metric""".stripMargin),
  )
}
