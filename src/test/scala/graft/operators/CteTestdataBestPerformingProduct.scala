package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.transforms.ReferenceTransforms

/** The four-branch CTE form of the registered `best_performing_product`
  * over the testdata, kept as the reference its mapping onto
  * [[ReferenceTransforms.bestOf]] is checked against (the way
  * `graft.transforms.CteBestPerformingProduct` is kept for the reference
  * path). The body is the operator as it stood before that mapping; only
  * the holiday predicate and the ingestion date now come from
  * [[ReferenceTransforms]]. Its persists are never released: a caller
  * clears them.
  */
object CteTestdataBestPerformingProduct {

  private def pct(n: Column, d: Column): Column =
    round(lit(100.0) * n / d, 4)

  def apply(lineitem: DataFrame, orders: DataFrame, part: DataFrame): DataFrame = {
    val dim = DateDim.fromOrders(orders)

    // reviews analog (reference staging.reviews, FIXTURES.md §A),
    // respread on the orders join key before the join chain
    val reviews = Dedup.spread(lineitem.select(
      ((floor(col("l_quantity")).cast("int") % 5) + 1).as("review"),
      col("l_partkey").as("product_id"),
      col("l_orderkey").as("order_id"),
      to_date(col("l_shipdate")).as("shipment_date")),
      col("order_id"))

    // CTE_1: 5-way join chain (reviews_ETL.py:94-113); the top-1 row
    // re-attaches product_name from part below
    val cte1 = reviews
      .join(broadcast(part.select(col("p_partkey"))),
        col("product_id") === col("p_partkey"))
      .join(orders, col("order_id") === col("o_orderkey"))
      .join(broadcast(dim), to_date(col("o_orderdate")) === col("calendar_dt"))
      .select(
        col("review"), col("product_id"),
        to_date(col("o_orderdate")).as("order_date"),
        col("working_day"), col("day_of_the_week_num"),
        col("shipment_date"), col("order_id"))
      // cte1 feeds four branches (cte2 + three best-product branches)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // CTE_2: top-1 product by mean review (reviews_ETL.py:116-124),
    // read as the output row and inside bestId's broadcast
    val cte2 = cte1
      .groupBy(col("product_id"))
      .agg(avg(col("review")).as("avg_raw"),
           sum(col("review")).as("tt_review_points"))
      .orderBy(desc("avg_raw"), asc("product_id"))
      .limit(1)
      .join(broadcast(part.select(col("p_partkey").as("product_id"),
        col("p_name").as("product_name"))), Seq("product_id"))
      .select(col("product_id"), col("product_name"),
              round(col("avg_raw"), 4).as("average"), col("tt_review_points"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val bestId = broadcast(cte2.select(col("product_id")))

    // the three report branches read only the best product's rows
    val bestRows = cte1
      .join(bestId, Seq("product_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // CTE_3 analog: order counts per day for the best product
    // (reviews_ETL.py:127-135 + holiday flag 131)
    val cte3 = bestRows
      .groupBy(col("order_date"),
               ReferenceTransforms.isPublicHoliday(col("working_day"), col("day_of_the_week_num"))
                 .as("is_public_holiday"))
      .agg(count(col("order_id")).as("total"))
    val mostOrdered = cte3
      .orderBy(desc("total"), asc("order_date"))
      .limit(1)
      .select(col("order_date").as("most_ordered_day"), col("is_public_holiday"))

    // CTE_4 analog: star-rating percentage split with ratio-to-report
    // window (reviews_ETL.py:137-149; W1 sum(count(*)) OVER ())
    val starCounts = bestRows
      .groupBy(col("review"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("total_all", sum(col("cnt")).over(Window.partitionBy()))
    val starPctCols = (1 to 5).map { s =>
      val name = Seq("one", "two", "three", "four", "five")(s - 1)
      pct(sum(when(col("review") === s, col("cnt")).otherwise(0L)),
          max(col("total_all"))).as(s"pct_${name}_star_review")
    }
    val starPcts = starCounts.agg(starPctCols.head, starPctCols.tail: _*)

    // CTE_5/6 analog: early/late shipment percentages
    // (reviews_ETL.py:152-170; late := shipped >= 6 days after order)
    val shipDays = datediff(col("shipment_date"), col("order_date"))
    val shipPcts = bestRows
      .agg(
        pct(sum(when(shipDays < 6, 1).otherwise(0)), count(lit(1)))
          .as("pct_early_shipment"),
        pct(sum(when(shipDays >= 6, 1).otherwise(0)), count(lit(1)))
          .as("pct_late_shipment"))

    // CTE_FINAL (reviews_ETL.py:172-198): 1-row × 1-row joins
    cte2
      .crossJoin(mostOrdered)
      .crossJoin(starPcts)
      .crossJoin(shipPcts)
      .select(
        lit(ReferenceTransforms.DefaultIngestionDate).cast("date").as("ingestion_date"),
        col("product_name"), col("most_ordered_day"), col("is_public_holiday"),
        col("average"), col("tt_review_points"),
        col("pct_one_star_review"), col("pct_two_star_review"),
        col("pct_three_star_review"), col("pct_four_star_review"),
        col("pct_five_star_review"),
        col("pct_early_shipment"), col("pct_late_shipment"))
  }
}
