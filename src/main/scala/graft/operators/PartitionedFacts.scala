package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.catalog.Tables

/** Partitioned-fact layout + dynamic partition pruning (DPP) — the
  * single biggest lever a 100 TB fact table has: lay the fact out
  * partitioned by its dominant filter/join key (ship month here), and
  * a dim-driven query reads ONLY the matching partitions. The month
  * filter below is expressed on dim attributes (year/quarter), so it
  * is NOT statically derivable on the fact's partition column —
  * Catalyst inserts a `dynamicpruningexpression` subquery that runs
  * the dim side first and prunes fact partitions at runtime
  * (asserted in PlanQualitySpec).
  *
  * The partitioned copy is derived once per scale factor under
  * `target/derived/` ([[DerivedStore.table]]) — standing in for the
  * partitioned external table a real warehouse would maintain.
  */
object PartitionedFacts {

  /** Path of the ship-month-partitioned lineitem copy, writing it on
    * first use and again whenever the source files or the engine code
    * change.
    */
  def partitionedLineitem(s: SparkSession, dir: String): String = {
    val li = Tables(s, dir).lineitem
    DerivedStore.table(dir, "lineitem_by_ship_ym", li)(
      li.withColumn("ship_ym", date_format(col("l_shipdate"), "yyyy-MM"))
        .repartition(col("ship_ym")) // one writer task per partition dir
        .write.mode("overwrite").partitionBy("ship_ym").parquet(_))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // revenue shipped in 1995-Q4, with the quarter coming from a dim
    // relation (distinct order months + year/quarter attributes) so
    // the partition filter is only knowable at runtime → DPP
    "dpp_quarter_revenue" -> ((s, dir) => {
      val fact = s.read.parquet(partitionedLineitem(s, dir))
      val dim = Tables(s, dir).orders
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_ym"),
          year(col("o_orderdate")).as("yr"), quarter(col("o_orderdate")).as("qtr"))
        .distinct()
        .filter(col("yr") === 1995 && col("qtr") === 4)
      fact.join(dim, Seq("ship_ym"))
        .groupBy(col("ship_ym"))
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4))).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    })
  )

  def oracles: Map[String, String] = Map(
    "dpp_quarter_revenue" ->
      """WITH dim AS (
        |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_ym,
        |         year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr
        |  FROM orders)
        |SELECT f.ship_ym,
        |  cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,4))) AS double) AS revenue,
        |  cast(count(*) AS bigint) AS n_lines
        |FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_ym,
        |             l_extendedprice, l_discount FROM lineitem) f
        |JOIN dim ON f.ship_ym = dim.ship_ym
        |WHERE dim.yr = 1995 AND dim.qtr = 4
        |GROUP BY f.ship_ym""".stripMargin
  )
}
