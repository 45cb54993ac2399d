package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.transforms.ReferenceTransforms
import graft.transforms.ReferenceTransforms.DefaultIngestionDate

/** "Best performing product" (`airflow/dags/reviews_ETL.py:93-198`)
  * over the testdata star schema: a column mapping onto the
  * [[ReferenceTransforms.bestOf]] kernel, which the reference path
  * shares.
  *
  * `lineitem` plays both `reviews` (review := floor(l_quantity) % 5 + 1,
  * a deterministic 1..5 star rating) and `shipments_deliveries`
  * (l_shipdate); `part` plays `dim_products`; the derived [[DateDim]]
  * plays `if_common.dim_dates`. The testdata has no delivery column, so
  * a line counts as delivered when it shipped within 6 days: under the
  * kernel's predicates that makes early exactly `< 6` days and late
  * `>= 6`. On top of the kernel's row this output adds the mean review
  * `average` and rounds it and the percentages to 4 places.
  */
object BestPerformingProduct {

  def apply(lineitem: DataFrame, orders: DataFrame, part: DataFrame): DataFrame = {
    val orderDate = to_date(col("o_orderdate"))
    val shipDate = to_date(col("l_shipdate"))
    val cte1 = lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(DateDim.fromOrders(orders)), orderDate === col("calendar_dt"))
      .select(((floor(col("l_quantity")).cast("int") % 5) + 1).as("review"),
        col("l_partkey").as("product_id"), col("p_name").as("product_name"),
        orderDate.as("order_date"), col("day_of_the_week_num"), col("working_day"),
        shipDate.as("shipment_date"),
        when(datediff(shipDate, orderDate) < 6, shipDate).as("delivery_date"))
    val best = ReferenceTransforms.bestOf(cte1)
    best.select(lit(DefaultIngestionDate).cast("date").as("ingestion_date") +:
      best.columns.map(c =>
        if (c == "average" || c.startsWith("pct_")) round(col(c), 4).as(c) else col(c)): _*)
  }

  val oracle: String =
    s"""WITH ${DateDim.oracleCte},
       |reviews AS (
       |  SELECT (cast(floor(l_quantity) AS int) % 5) + 1 AS review,
       |         l_partkey AS product_id, l_orderkey AS order_id,
       |         cast(l_shipdate AS date) AS shipment_date
       |  FROM lineitem),
       |cte1 AS (
       |  SELECT r.review, r.product_id, p.p_name AS product_name,
       |         cast(o.o_orderdate AS date) AS order_date,
       |         d.working_day, d.day_of_the_week_num,
       |         r.shipment_date, r.order_id
       |  FROM reviews r
       |  JOIN part p ON p.p_partkey = r.product_id
       |  JOIN orders o ON o.o_orderkey = r.order_id
       |  JOIN dim_dates d ON cast(o.o_orderdate AS date) = d.calendar_dt),
       |cte2 AS (
       |  SELECT product_id, product_name,
       |         round(avg(review), 4) AS average,
       |         cast(sum(review) AS bigint) AS tt_review_points
       |  FROM cte1 GROUP BY product_id, product_name
       |  ORDER BY avg(review) DESC, product_id ASC LIMIT 1),
       |cte3 AS (
       |  SELECT c.order_date,
       |         (c.working_day = false AND c.day_of_the_week_num IN (1,2,3,4,5)) AS is_public_holiday,
       |         count(c.order_id) AS total
       |  FROM cte1 c JOIN cte2 b ON c.product_id = b.product_id
       |  GROUP BY 1, 2),
       |most_ordered AS (
       |  SELECT order_date AS most_ordered_day, is_public_holiday
       |  FROM cte3 ORDER BY total DESC, order_date ASC LIMIT 1),
       |star_counts AS (
       |  SELECT c.review, count(*) AS cnt, sum(count(*)) OVER () AS total_all
       |  FROM cte1 c JOIN cte2 b ON c.product_id = b.product_id
       |  GROUP BY c.review),
       |star_pcts AS (
       |  SELECT
       |    round(100.0::DOUBLE * sum(CASE WHEN review = 1 THEN cnt ELSE 0 END) / max(total_all), 4) AS pct_one_star_review,
       |    round(100.0::DOUBLE * sum(CASE WHEN review = 2 THEN cnt ELSE 0 END) / max(total_all), 4) AS pct_two_star_review,
       |    round(100.0::DOUBLE * sum(CASE WHEN review = 3 THEN cnt ELSE 0 END) / max(total_all), 4) AS pct_three_star_review,
       |    round(100.0::DOUBLE * sum(CASE WHEN review = 4 THEN cnt ELSE 0 END) / max(total_all), 4) AS pct_four_star_review,
       |    round(100.0::DOUBLE * sum(CASE WHEN review = 5 THEN cnt ELSE 0 END) / max(total_all), 4) AS pct_five_star_review
       |  FROM star_counts),
       |ship_pcts AS (
       |  SELECT
       |    round(100.0::DOUBLE * sum(CASE WHEN datediff('day', c.order_date, c.shipment_date) < 6 THEN 1 ELSE 0 END) / count(*), 4) AS pct_early_shipment,
       |    round(100.0::DOUBLE * sum(CASE WHEN datediff('day', c.order_date, c.shipment_date) >= 6 THEN 1 ELSE 0 END) / count(*), 4) AS pct_late_shipment
       |  FROM cte1 c JOIN cte2 b ON c.product_id = b.product_id)
       |SELECT cast('$DefaultIngestionDate' AS date) AS ingestion_date,
       |       b.product_name, m.most_ordered_day, m.is_public_holiday,
       |       b.average, b.tt_review_points,
       |       s.pct_one_star_review, s.pct_two_star_review,
       |       s.pct_three_star_review, s.pct_four_star_review,
       |       s.pct_five_star_review,
       |       h.pct_early_shipment, h.pct_late_shipment
       |FROM cte2 b, most_ordered m, star_pcts s, ship_pcts h""".stripMargin
}
