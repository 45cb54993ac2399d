package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The CTE-faithful formulation of
  * [[ReferenceTransforms.bestPerformingProduct]], kept as the reference
  * its one-pass plan is checked against: one `cte1` join chain used
  * four times (the top-1 product, the winner's rows, its most-ordered
  * day and its percentage aggregate), as `reviews_ETL.py:93-198` writes
  * it.
  */
object CteBestPerformingProduct {

  def bestPerformingProduct(reviews: DataFrame, dimProducts: DataFrame,
                            orders: DataFrame, dimDates: DataFrame,
                            shipments: DataFrame,
                            ingestionDate: String = ReferenceTransforms.DefaultIngestionDate): DataFrame = {
    // CTE_1 (reviews_ETL.py:94-113) — J3..J6 join chain; dims broadcast
    val cte1 = reviews.as("a")
      .join(broadcast(dimProducts.as("b")), col("a.product_id") === col("b.product_id"))
      .join(orders.as("c"), col("b.product_id") === col("c.product_id").cast("int"))
      .join(broadcast(dimDates.as("d")), col("c.order_date") === col("d.calendar_dt"))
      .join(shipments.as("e"), col("c.order_id") === col("e.order_id"))
      .select(col("a.review"), col("a.product_id"), col("b.product_name"),
        col("c.order_id"), col("c.order_date"), col("d.day_of_the_week_num"),
        col("d.working_day"), col("e.shipment_id"), col("e.shipment_date"),
        col("e.delivery_date"))

    // CTE_2 (reviews_ETL.py:116-124): top-1 by avg review, tie-break id
    val cte2 = cte1.groupBy(col("product_id"), col("product_name"))
      .agg(avg(col("review")).as("average"), sum(col("review")).as("tt_review_points"))
      .orderBy(desc("average"), asc("product_id")).limit(1)
    val winner = cte1.join(broadcast(cte2.select(col("product_id"))), Seq("product_id"))

    // CTE_3 (reviews_ETL.py:127-135): most-ordered day for the winner
    val mostOrdered = winner
      .groupBy(col("order_date"),
        (col("working_day") === false &&
          col("day_of_the_week_num").isin(1, 2, 3, 4, 5)).as("is_public_holiday"))
      .agg(count(col("order_id")).as("total"))
      .orderBy(desc("total"), asc("order_date")).limit(1)
      .select(col("order_date").as("most_ordered_day"), col("is_public_holiday"))

    // CTA_4 + CTE_5/6 (reviews_ETL.py:137-170): star split and
    // early/late shipment pcts in one aggregate. count_if / count(1) is
    // the same long / long as the reference's ratio-to-report window.
    def pct(cond: Column) = count_if(cond) * 100.0 / count(lit(1))
    val starNames = Seq("one", "two", "three", "four", "five")
    val days = datediff(col("shipment_date"), col("order_date"))
    val pcts = (1 to 5).map(s =>
      pct(col("review") === s).as(s"pct_${starNames(s - 1)}_star_review")) ++ Seq(
      pct(days <= 6 && col("delivery_date").isNotNull).as("pct_early_shipment"),
      pct(days >= 6 && col("delivery_date").isNull).as("pct_late_shipment"))
    val winnerPcts = winner.agg(pcts.head, pcts.tail: _*)

    // CTE_FINAL (reviews_ETL.py:172-198)
    cte2.crossJoin(mostOrdered).crossJoin(winnerPcts)
      .select(
        lit(ingestionDate).cast("date").as("ingestion_date"),
        col("product_name"), col("most_ordered_day"), col("is_public_holiday"),
        col("tt_review_points"),
        col("pct_one_star_review"), col("pct_two_star_review"),
        col("pct_three_star_review"), col("pct_four_star_review"),
        col("pct_five_star_review"),
        col("pct_early_shipment"), col("pct_late_shipment"))
  }
}
