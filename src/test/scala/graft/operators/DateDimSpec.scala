package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DateDimSpec extends SparkSpec {
  import spark.implicits._

  test("ISO day-of-week, month, working_day and holiday rule") {
    val dim = DateDim.fromDates(
      Seq("2022-09-05", "2022-09-25", "2022-08-25", "2022-09-01", "2022-09-03")
        .toDF("d").select(to_date($"d").as("calendar_dt")))
      .collect().map(r => r.getDate(0).toString ->
        (r.getInt(1), r.getInt(2), r.getBoolean(3))).toMap

    assert(dim("2022-09-05") == ((1, 9, true)))   // Monday, plain weekday
    assert(dim("2022-09-25") == ((7, 9, false)))  // Sunday AND the 25th
    assert(dim("2022-08-25") == ((4, 8, false)))  // Thursday the 25th = holiday
    assert(dim("2022-09-01") == ((4, 9, false)))  // Thursday the 1st = holiday
    assert(dim("2022-09-03") == ((6, 9, false)))  // Saturday: weekend, not working
  }

  test("public-holiday predicate = non-working weekday only") {
    val dim = DateDim.fromDates(
      Seq("2022-08-25", "2022-09-03", "2022-09-05").toDF("d")
        .select(to_date($"d").as("calendar_dt")))
      .withColumn("hol",
        graft.transforms.ReferenceTransforms.isPublicHoliday(col("working_day"), col("day_of_the_week_num")))
      .collect().map(r => r.getDate(0).toString -> r.getBoolean(4)).toMap
    assert(dim("2022-08-25"))          // weekday holiday
    assert(!dim("2022-09-03"))         // weekend: not a "public holiday"
    assert(!dim("2022-09-05"))         // working weekday
  }
}
