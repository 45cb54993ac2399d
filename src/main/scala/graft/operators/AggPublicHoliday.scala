package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.transforms.ReferenceTransforms
import graft.transforms.ReferenceTransforms.{DefaultIngestionDate, Months}

/** Holiday-order pivot (`airflow/dags/orders_ETL.py:93-125`) over the
  * testdata: a column mapping onto
  * [[ReferenceTransforms.aggPublicHoliday]]. `orders.o_orderdate`
  * plays `order_date` and the derived [[DateDim]] plays
  * `if_common.dim_dates`.
  */
object AggPublicHoliday {

  def apply(orders: DataFrame): DataFrame =
    ReferenceTransforms.aggPublicHoliday(
      orders.select(to_date(col("o_orderdate")).as("order_date")),
      DateDim.fromOrders(orders))

  val oracle: String = {
    val pivots = Months.zipWithIndex
      .map { case (n, i) =>
        s"cast(sum(CASE WHEN d.month_of_the_year_num = ${i + 1} THEN 1 ELSE 0 END) AS bigint) AS tt_order_hol_$n"
      }
      .mkString(",\n       ")
    s"""WITH ${DateDim.oracleCte}
       |SELECT cast('$DefaultIngestionDate' AS date) AS ingestion_date,
       |       $pivots
       |FROM orders o
       |JOIN dim_dates d ON cast(o.o_orderdate AS date) = d.calendar_dt
       |WHERE d.working_day = false AND d.day_of_the_week_num IN (1,2,3,4,5)""".stripMargin
  }
}
