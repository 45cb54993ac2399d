package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's three analytics transforms on its OWN data model
  * (ReferenceSchemas) — pure `DataFrame => DataFrame`, the API a user
  * of the reference would migrate to. The testdata-mapped variants in
  * `graft.operators` carry the DuckDB-oracle gate; these carry exact
  * reference semantics over reference-shaped inputs. The registered
  * `agg_public_holiday` and `best_performing_product` are column
  * mappings of the testdata onto these kernels.
  *
  * Conscious divergences from the reference SQL (SURVEY.md §2.10):
  * fail-fast instead of swallowed exceptions, pinned `ingestionDate`
  * instead of CURRENT_TIMESTAMP narrowing, deterministic tie-breaks
  * on the two ORDER BY … LIMIT 1 sites, LEFT JOIN + WHERE equality
  * implemented as the inner join it is, and non-integer percentage
  * division (PG numeric semantics, not bigint/bigint).
  */
object ReferenceTransforms {

  /** Fixed ingestion date in place of the reference's CURRENT_TIMESTAMP
    * narrowing (SURVEY.md §2.10.6), so runs are reproducible: the
    * reference's own pinned literal (`shipments_ETL.py:98`).
    */
  val DefaultIngestionDate = "2022-09-05"

  /** The reference's "public holiday" (`orders_ETL.py:103`): a weekday
    * that is not a working day.
    */
  def isPublicHoliday(workingDay: Column, dow: Column): Column =
    workingDay === false && dow.isin(1, 2, 3, 4, 5)

  /** The pivot's month columns `tt_order_hol_<month>`, January first. */
  val Months: Seq[String] = Seq("jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec")

  /** Holiday-order pivot (`orders_ETL.py:93-125`): orders ⋈ dim_dates
    * on order_date, filter to non-working weekdays, 12 conditional
    * month sums. dim_dates is broadcast (one row per date).
    */
  def aggPublicHoliday(orders: DataFrame, dimDates: DataFrame,
                       ingestionDate: String = DefaultIngestionDate): DataFrame = {
    val joined = orders
      .join(broadcast(dimDates), col("order_date") === col("calendar_dt"))
      .filter(isPublicHoliday(col("working_day"), col("day_of_the_week_num")))
    val pivots = Months.zipWithIndex.map { case (m, i) =>
      sum(when(col("month_of_the_year_num") === (i + 1), 1).otherwise(0))
        .as(s"tt_order_hol_$m")
    }
    joined.agg(pivots.head, pivots.tail: _*)
      .select(lit(ingestionDate).cast("date").as("ingestion_date") +:
        Months.map(m => col(s"tt_order_hol_$m")): _*)
  }

  /** Late/undelivered shipments (`shipments_ETL.py:84-104`):
    *   late        := shipment_date - order_date >= 6 AND delivery_date IS NULL
    *   undelivered := both dates NULL AND '2022-09-05' - order_date = 15
    * PG `date - date` is integer days → `datediff`.
    */
  def aggShipments(shipments: DataFrame, orders: DataFrame,
                   ingestionDate: String = DefaultIngestionDate): DataFrame = {
    val shipDays = datediff(col("shipment_date"), col("order_date"))
    val ageDays  = datediff(lit(DefaultIngestionDate).cast("date"), col("order_date"))
    shipments
      .join(orders, Seq("order_id"))
      .agg(
        sum(when(shipDays >= 6 && col("delivery_date").isNull, 1).otherwise(0))
          .as("tt_late_shipments"),
        sum(when(col("delivery_date").isNull && col("shipment_date").isNull &&
          ageDays === 15, 1).otherwise(0)).as("tt_undelivered_items"))
      .select(lit(ingestionDate).cast("date").as("ingestion_date"),
        col("tt_late_shipments"), col("tt_undelivered_items"))
  }

  /** Best performing product (`reviews_ETL.py:93-198`): 5-way join
    * chain, top-1 product by mean review, its most-ordered day and
    * holiday flag, and over the winner's rows the star-percentage split
    * and the early/late shipment percentages.
    *
    * Reference shipment-status semantics preserved exactly
    * (`reviews_ETL.py:155-156`): late := >= 6 days AND undelivered;
    * early := <= 6 days AND delivered (NOT complements).
    */
  def bestPerformingProduct(reviews: DataFrame, dimProducts: DataFrame,
                            orders: DataFrame, dimDates: DataFrame,
                            shipments: DataFrame,
                            ingestionDate: String = DefaultIngestionDate): DataFrame = {
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
    val best = bestOf(cte1)
    // CTE_FINAL (reviews_ETL.py:172-198) has no mean review
    best.select(lit(ingestionDate).cast("date").as("ingestion_date") +:
      best.columns.filter(_ != "average").map(col): _*)
  }

  /** The best-product kernel after the join chain: `cte1`'s review,
    * product_id, product_name, order_date, day_of_the_week_num,
    * working_day, shipment_date and delivery_date to the winner's row
    * of product_name, most_ordered_day, is_public_holiday, the unrounded
    * mean review `average`, tt_review_points and the `pct_*` columns.
    *
    * The reference's CTEs read the join chain (CTE_1) four times. Here
    * it is one linear plan, so every input is scanned and joined once:
    *  1. per (product, order day, holiday flag): review sum and count,
    *     row count (= order count), the five star counts and the
    *     early/late counts;
    *  2. per product: the summed counters, the mean review
    *     Σsum / Σcount, and the busiest day as the day with the largest
    *     key (orders << 32) − unix_date(day): most orders first, then
    *     the earliest day;
    *  3. top-1 by (mean desc, product_id asc).
    * It equals the CTE formulation exactly: integer sums below 2^53 give
    * the same double as `avg`, the percentages stay long / long, and
    * both tie-breaks are unchanged. Every aggregate stays hash-based:
    * `max_by` over a date or a boolean keeps a fixed-width buffer, where
    * a `min(struct(...))` would plan two sort aggregates.
    */
  private[graft] def bestOf(cte1: DataFrame): DataFrame = {
    // CTA_4 + CTE_5/6 (reviews_ETL.py:137-170) counters, per day so the
    // same pass also serves CTE_3's most-ordered day
    val days = datediff(col("shipment_date"), col("order_date"))
    val counters = Seq("one", "two", "three", "four", "five").zipWithIndex.map {
      case (n, i) => s"${n}_star_review" -> (col("review") === i + 1)
    } ++ Seq(
      "early_shipment" -> (days <= 6 && col("delivery_date").isNotNull),
      "late_shipment" -> (days >= 6 && col("delivery_date").isNull))
    val perDay = cte1
      .groupBy(col("product_id"), col("product_name"), col("order_date"),
        isPublicHoliday(col("working_day"), col("day_of_the_week_num")).as("is_public_holiday"))
      .agg(sum(col("review")).as("points"), (Seq(
        count(col("review")).as("reviewed"), count(lit(1)).as("rows")) ++
        counters.map { case (c, cond) => count_if(cond).as(c) }): _*)

    // CTE_2 (reviews_ETL.py:116-124) and CTE_3 (127-135) per product.
    // CTE_3 counts order_id, never NULL past its inner join: the rows.
    val busiest = shiftleft(col("rows"), 32) - unix_date(col("order_date"))
    val perProduct = perDay.groupBy(col("product_id"), col("product_name"))
      .agg(sum(col("points")).as("tt_review_points"), (Seq(
        sum(col("reviewed")).as("reviewed"), sum(col("rows")).as("rows"),
        max_by(col("order_date"), busiest).as("most_ordered_day"),
        max_by(col("is_public_holiday"), busiest).as("is_public_holiday")) ++
        counters.map { case (c, _) => sum(col(c)).as(c) }): _*)

    // top-1 by avg review, tie-break id
    val average = col("tt_review_points").cast("double") / col("reviewed").cast("double")
    perProduct.orderBy(average.desc, col("product_id").asc).limit(1)
      .select((Seq(col("product_name"), col("most_ordered_day"),
        col("is_public_holiday"), average.as("average"), col("tt_review_points")) ++
        counters.map { case (c, _) => (col(c) * 100.0 / col("rows")).as(s"pct_$c") }): _*)
  }
}
