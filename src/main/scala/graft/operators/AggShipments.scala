package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.transforms.ReferenceTransforms.DefaultIngestionDate

/** Late/undelivered-shipment aggregation — Spark-native re-expression
  * of the reference's `agg_shipments` transform
  * (`airflow/dags/shipments_ETL.py:84-104`):
  *
  *   shipments ⋈ orders on order_id (J2), then two conditional sums
  *   (A2) over date arithmetic (P9: PG `date - date` = integer days →
  *   `datediff`):
  *     late        := shipment_date - order_date >= 6
  *     undelivered := '2022-09-05' - order_date >= 15 AND still open
  *
  * Mapping onto the testdata star schema: `lineitem` plays shipments
  * (l_shipdate = shipment_date, l_orderkey = order_id) and
  * `l_linestatus = 'O'` (open) plays the "not yet delivered" null
  * test — the testdata has no nullable delivery column, so the
  * open-status flag carries the same three-valued-filter role
  * (SURVEY.md §2.2 P6 is exercised separately in left_join_nulls).
  *
  * It keeps its own body rather than a mapping onto
  * `ReferenceTransforms.aggShipments`: the reference counts an item
  * undelivered when both dates are NULL and the order is exactly 15
  * days old, and no column mapping turns that into `l_linestatus = 'O'`
  * AND at least 15 days old. Nulling `shipment_date` for open lines
  * would also drop them from the late count.
  */
object AggShipments {
  def apply(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val shipDays  = datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
    val openDays  = datediff(lit(DefaultIngestionDate).cast("date"), to_date(col("o_orderdate")))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .agg(
        sum(when(shipDays >= 6, 1).otherwise(0)).as("tt_late_shipments"),
        sum(when(col("l_linestatus") === "O" && openDays >= 15, 1).otherwise(0))
          .as("tt_undelivered_items"))
      .select(
        lit(DefaultIngestionDate).cast("date").as("ingestion_date"),
        col("tt_late_shipments"),
        col("tt_undelivered_items"))
  }

  val oracle: String =
    s"""SELECT cast('$DefaultIngestionDate' AS date) AS ingestion_date,
       |  cast(sum(CASE WHEN datediff('day', cast(o.o_orderdate AS date), cast(l.l_shipdate AS date)) >= 6
       |           THEN 1 ELSE 0 END) AS bigint) AS tt_late_shipments,
       |  cast(sum(CASE WHEN l.l_linestatus = 'O'
       |                AND datediff('day', cast(o.o_orderdate AS date), cast('$DefaultIngestionDate' AS date)) >= 15
       |           THEN 1 ELSE 0 END) AS bigint) AS tt_undelivered_items
       |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""".stripMargin
}
