package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derived date dimension standing in for the reference's external
  * `if_common.dim_dates` (schema inferred in SURVEY.md §1.4 from
  * `orders_ETL.py:99,103,108-119`). The reference's dim is provided
  * out-of-band; here we derive one deterministically from the fact
  * table's date domain so the DuckDB oracle can derive the identical
  * dimension from the same parquet.
  *
  * Columns (mirroring the inferred reference schema):
  *   - calendar_dt DATE          (join key, `orders_ETL.py:99`)
  *   - day_of_the_week_num INT   ISO: 1=Mon .. 7=Sun
  *   - month_of_the_year_num INT 1..12
  *   - working_day BOOL          weekday AND not a synthetic holiday
  *
  * Synthetic holiday rule (replaces the external holiday calendar the
  * reference's dim carries): the 1st and 25th of every month are
  * non-working. The reference's "public holiday" predicate is
  * `graft.transforms.ReferenceTransforms.isPublicHoliday`.
  *
  * Tiny by construction (one row per distinct date, ~2.4k rows at any
  * SF) — always broadcast to the fact side of joins.
  */
object DateDim {

  /** SQL fragment for the DuckDB oracle — must stay semantically
    * identical to [[fromDates]]. DuckDB `isodow` = Spark `weekday+1`.
    */
  val oracleCte: String =
    """dim_dates AS (
      |  SELECT calendar_dt,
      |         isodow(calendar_dt) AS day_of_the_week_num,
      |         month(calendar_dt) AS month_of_the_year_num,
      |         (isodow(calendar_dt) <= 5 AND day(calendar_dt) NOT IN (1, 25)) AS working_day
      |  FROM (SELECT DISTINCT cast(o_orderdate AS date) AS calendar_dt FROM orders)
      |)""".stripMargin

  /** Derive the dimension from `orders.o_orderdate` (timestamp). */
  def fromOrders(orders: DataFrame): DataFrame =
    fromDates(orders.select(to_date(col("o_orderdate")).as("calendar_dt")))

  /** Build from any single-column DataFrame of dates named calendar_dt. */
  def fromDates(dates: DataFrame): DataFrame = {
    val d = col("calendar_dt")
    // weekday(): 0=Mon..6=Sun, so +1 gives ISO day-of-week like isodow.
    val isoDow = weekday(d) + lit(1)
    dates
      .distinct()
      .select(
        d,
        isoDow.as("day_of_the_week_num"),
        month(d).as("month_of_the_year_num"),
        (isoDow <= 5 && !dayofmonth(d).isin(1, 25)).as("working_day")
      )
  }
}
