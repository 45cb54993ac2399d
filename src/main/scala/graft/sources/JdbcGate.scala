package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.operators.DerivedStore

/** Oracle-gated JDBC round-trip against EMBEDDED DERBY — the r11
  * verdict's "oracle-gate the spec-only seams" item. The reference's
  * deployment shape is load-into-warehouse-then-query
  * (`orders_ETL.py:19-30` psycopg2 + COPY, then SQL over the staged
  * tables); no Postgres wire exists in the zero-egress sandbox, but
  * Derby ships in Spark's own jars and drives the IDENTICAL
  * [[Jdbc]] read path — partitioned range reads, WHERE-clause filter
  * pushdown, DataFrameWriter DDL — through a real JDBC engine rather
  * than a mock. `JdbcSpec` proves the mechanics; this row puts the
  * round-tripped DATA under the driver's DuckDB hash gate: whatever
  * the engine stages into the warehouse and reads back must
  * hash-match the oracle computed directly on the source parquet.
  *
  * Scale shape: the warehouse LOAD runs once per [[DerivedStore]] key
  * of the customer table (the staleness contract of every derived
  * table — a regenerated corpus or changed engine code reloads) and
  * is billed to the first query that needs it, as the other one-time
  * layout jobs are; the per-query cost is the partitioned
  * JDBC scan with the segment/balance predicates pushed into Derby
  * (`PushedFilters` plan-asserted in `JdbcSpec`) plus one tiny keyed
  * aggregate. On a cluster the URL swaps to Postgres and
  * `numPartitions` scales with executor count — the exact
  * `DEPLOY.md` JDBC transfer row.
  */
object JdbcGate {

  private def dbPath(dir: String): String = {
    val sf = new java.io.File(dir).getName
    new java.io.File(s"target/derby/graftwh_$sf").getAbsolutePath
  }

  def conn(dir: String): Jdbc.Conn =
    Jdbc.Conn(s"jdbc:derby:${dbPath(dir)};create=true", "app", "app",
      "org.apache.derby.jdbc.EmbeddedDriver")

  /** Stage the customer table into the embedded warehouse once per
    * store key of its source. Overwrite DDL maps the segment column to
    * VARCHAR explicitly — Spark's Derby dialect defaults StringType
    * to CLOB, which Derby refuses to compare in a pushed-down WHERE.
    */
  def ensureCustomerLoaded(s: SparkSession, dir: String): Unit =
    loadLock.synchronized {
      val customer = Tables(s, dir).customer
      DerivedStore.rebuildUnlessCurrent(
          new java.io.File(dbPath(dir) + "._DERIVED_KEY"), customer, "customer_wh") {
        customer
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_acctbal"), col("c_mktsegment"))
          .write.format("jdbc")
          .option("url", conn(dir).url)
          .option("dbtable", "customer_wh")
          .option("user", conn(dir).user)
          .option("password", conn(dir).password)
          .option("driver", conn(dir).driver)
          .option("createTableColumnTypes",
            "c_name VARCHAR(64), c_mktsegment VARCHAR(16)")
          .mode(SaveMode.Overwrite)
          .save()
      }
    }

  private val loadLock = new Object

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-nation profile of high-balance BUILDING-segment customers,
    // computed FROM THE WAREHOUSE: partitioned JDBC read (8 range
    // connections on c_custkey), both predicates pushed into Derby,
    // balances exact-quantized to cents AFTER the round-trip — Derby
    // DOUBLE is IEEE, so the staged value is bit-identical to the
    // parquet value and the hash gate closes over the full
    // write→DDL→read→filter chain.
    "jdbc_pushdown_segment" -> ((s, dir) => {
      ensureCustomerLoaded(s, dir)
      val bounds = Tables(s, dir).customer
        .agg(min(col("c_custkey")), max(col("c_custkey"))).head()
      Jdbc.readTable(s, conn(dir), "customer_wh",
          partitionColumn = Some("c_custkey"),
          lowerBound = bounds.getLong(0), upperBound = bounds.getLong(1) + 1,
          numPartitions = 8)
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 0.0)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          sum(floor(col("c_acctbal") * lit(100.0) + lit(0.5)).cast("long"))
            .as("bal_cents"))
    })
  )

  def oracles: Map[String, String] = Map(
    // the oracle never sees the warehouse — it states what the
    // staged-and-read-back data MUST equal on the source parquet
    "jdbc_pushdown_segment" ->
      """SELECT c_nationkey,
        |  cast(count(*) AS bigint) AS n_customers,
        |  cast(sum(cast(floor(c_acctbal * 100.0 + 0.5) AS bigint)) AS bigint)
        |    AS bal_cents
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0.0
        |GROUP BY c_nationkey""".stripMargin
  )
}
