package graft.transforms

import java.sql.{Date, Timestamp}
import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.catalog.ReferenceSchemas
import graft.operators.{BestPerformingProduct, CteTestdataBestPerformingProduct}

/** The one-pass [[ReferenceTransforms.bestPerformingProduct]] against
  * its CTE-faithful formulation ([[CteBestPerformingProduct]]) on
  * seeded ScalaCheck inputs in the reference's data model. The
  * generator forces the cases where a fused plan can drift: ties on the
  * top average (decided by product_id), ties on the busiest day's order
  * count (decided by the earliest day), NULL reviews (a product whose
  * reviews are all NULL has no average), NULL shipment and delivery
  * dates, and orders on days outside `dim_dates`. Rows must be equal
  * exactly, doubles bit for bit.
  *
  * The registered `best_performing_product`, a testdata mapping onto
  * the same kernel, is checked the same way against its four-branch
  * form ([[CteTestdataBestPerformingProduct]]).
  */
class BestPerformingProductPropertySpec extends SparkSpec {
  import BestPerformingProductPropertySpec.{Tables, Testdata}

  private val base = LocalDate.of(2022, 8, 1)

  private val tablesGen: Gen[Tables] = for {
    nProducts <- Gen.choose(2, 4)
    ids <- Gen.pick(nProducts, 1 to 9).map(_.toSeq)
    nDates <- Gen.choose(2, 4)
    dates <- Gen.listOfN(nDates, Gen.zip(Gen.choose(1, 7), Gen.oneOf(true, false)))
      .map(_.zipWithIndex.map { case ((dow, working), i) => (base.plusDays(i), dow, working) })
    averageTie <- Gen.oneOf(true, false)
    dayTie <- Gen.oneOf(true, false)
    review = Gen.frequency(1 -> Gen.const(None), 6 -> Gen.choose(1, 5).map(Some(_)))
    reviewLists <- Gen.listOfN(nProducts, Gen.choose(1, 4).flatMap(Gen.listOfN(_, review)))
    allNull <- Gen.oneOf(None +: ids.map(Some(_)))
    orderDays <- Gen.listOfN(nProducts, Gen.choose(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-1, nDates - 1))))
    tieDays <- Gen.choose(1, nDates)
    tiePerDay <- Gen.choose(1, 2)
    shipGens <- Gen.listOfN(4 * 4, Gen.zip(
      Gen.choose(1, 2),
      Gen.option(Gen.choose(0, 9)), Gen.option(Gen.choose(1, 3))))
  } yield {
    // averageTie: the first two products share one high review list,
    // every other product reviews lower, so product_id decides the top
    val reviewsBy = ids.zip(reviewLists).map { case (id, rs) =>
      val tied = averageTie && ids.indexOf(id) < 2
      val lists = if (tied) List(Some(5), Some(4), None) else if (averageTie) rs.map(_.map(_.min(3))) else rs
      id -> (if (allNull.contains(id) && !tied) lists.map(_ => None) else lists)
    }
    // dayTie: every product orders tiePerDay times on each of the first
    // tieDays dim days, one shipment each, so their counts are equal;
    // otherwise the first product orders on the first dim day, so the
    // join chain is never empty
    val daysBy = ids.zip(orderDays).map { case (id, ds) =>
      id -> (if (dayTie) (0 until tieDays).flatMap(d => Seq.fill(tiePerDay)(d))
        else if (id == ids.head) ds.updated(0, 0) else ds)
    }
    val orders = daysBy.flatMap { case (id, ds) => ds.map(d => (id, base.plusDays(d))) }
      .zipWithIndex.map { case ((id, day), i) => (i + 1, day, id) }
    val shipments = orders.flatMap { case (oid, day, _) =>
      val (n, ship, deliver) = shipGens((oid - 1) % shipGens.size)
      (0 until (if (dayTie) 1 else n)).map { k =>
        val shipped = ship.map(s => day.plusDays(s + k))
        (oid * 10 + k, oid, shipped, shipped.flatMap(s => deliver.map(s.plusDays(_))))
      }
    }
    Tables(reviewsBy.flatMap { case (id, rs) => rs.map((_, id)) }, ids, orders, dates,
      shipments, averageTie, dayTie)
  }

  private def frame(schema: StructType, rows: Seq[Seq[Any]]): DataFrame = {
    // CSV reads make every column nullable; so do these frames
    val nullable = StructType(schema.map(_.copy(nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), nullable)
  }

  private def date(d: LocalDate): Date = Date.valueOf(d)

  /** Doubles as their bits, so 0.0 and -0.0 or two NaNs never pass as equal. */
  private def exact(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  }

  test("one-pass best product equals the CTE formulation on ties and NULLs") {
    val cases = Gen.listOfN(24, tablesGen)(Gen.Parameters.default, Seed(10L)).get
    for ((t, i) <- cases.zipWithIndex) {
      val inputs = Seq(
        frame(ReferenceSchemas.reviews, t.reviews.map { case (r, p) => Seq(r.getOrElse(null), p) }),
        frame(ReferenceSchemas.dimProducts, t.products.map(p => Seq(p, "cat", s"product $p"))),
        frame(ReferenceSchemas.orders, t.orders.map { case (o, d, p) =>
          Seq(o, 1, date(d), p.toString, 1, 1, 1) }),
        frame(ReferenceSchemas.dimDates, t.dates.map { case (d, dow, working) =>
          Seq(date(d), d.getYear, d.getMonthValue, d.getDayOfMonth, dow, working) }),
        frame(ReferenceSchemas.shipmentsDeliveries, t.shipments.map { case (s, o, sd, dd) =>
          Seq(s, o, sd.map(date).orNull, dd.map(date).orNull) }))
      val Seq(rv, dp, or, dd, sh) = inputs
      val expected = CteBestPerformingProduct.bestPerformingProduct(rv, dp, or, dd, sh).collect()
      val actual = ReferenceTransforms.bestPerformingProduct(rv, dp, or, dd, sh).collect()
      assert(actual.map(exact).toSeq == expected.map(exact).toSeq, s"case $i: $t")
    }
    // the generator reached the cases it exists for
    assert(cases.count(_.averageTie) >= 6 && cases.count(_.dayTie) >= 6)
    assert(cases.count(_.reviews.exists(_._1.isEmpty)) >= 6)
    assert(cases.count(_.shipments.exists(_._3.isEmpty)) >= 6)
    assert(cases.count(_.shipments.exists(s => s._3.nonEmpty && s._4.isEmpty)) >= 6)
  }

  // 2022-08-22 is a Monday; 08-25 and 09-01 are weekday holidays
  private val testdataBase = LocalDate.of(2022, 8, 22)
  private val missingPart = 99

  /** Lines in the testdata schema: `nParts` parts with 1..4 quantities
    * each (review = floor(q) % 5 + 1), one order per listed day, and one
    * line per quantity in each order. Lines ship 5, 6 or 7 days after
    * their order, or after a random gap of 0..9 days, in turn. Lines of
    * `missingPart`, absent from `part`, rate 5 and would win the top
    * average if they survived the join.
    */
  private val testdataGen: Gen[Testdata] = for {
    nParts <- Gen.choose(2, 4)
    parts <- Gen.pick(nParts, 1 to 9).map(_.toSeq)
    averageTie <- Gen.oneOf(true, false)
    dayTie <- Gen.oneOf(true, false)
    quantities <- Gen.listOfN(nParts, Gen.choose(1, 4).flatMap(
      Gen.listOfN(_, Gen.choose(0, 99).map(_ / 10.0))))
    days <- Gen.listOfN(nParts, Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(0, 10))))
    tieDays <- Gen.choose(2, 4)
    gaps <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(0, 9)))
  } yield {
    // averageTie: the first two parts share one list of ratings 5, 4, 5
    // and every other part rates at most 3, so p_partkey decides the top
    val quantitiesBy = parts.zip(quantities).zipWithIndex.map { case ((p, qs), i) =>
      p -> (if (averageTie && i < 2) List(4.0, 3.5, 9.2)
        else if (averageTie) qs.map(q => q % 3) else qs)
    }.toMap + (missingPart -> List(4.0, 4.5))
    // dayTie: every part orders once on each of the first tieDays days
    val daysBy = parts.zip(days).map { case (p, ds) =>
      p -> (if (dayTie) (0 until tieDays).toList else ds)
    } :+ (missingPart -> List(0))
    val orders = daysBy.flatMap { case (p, ds) => ds.map(p -> testdataBase.plusDays(_)) }
      .zipWithIndex.map { case ((p, day), i) => (i + 1, day, p) }
    val shipGaps = Seq(5, 6, 7) ++ gaps
    val lines = orders.flatMap { case (o, day, p) =>
      quantitiesBy(p).zipWithIndex.map { case (q, k) =>
        (o, p, q, day.plusDays(shipGaps((o + k) % shipGaps.size)))
      }
    }
    Testdata(lines, parts, orders.map { case (o, day, _) => (o, day) }, averageTie, dayTie)
  }

  /** Midnight UTC of `d` plus `hours`, as the testdata's timestamps. */
  private def timestamp(d: LocalDate, hours: Int = 0): Timestamp =
    Timestamp.from(d.atStartOfDay(ZoneOffset.UTC).plusHours(hours).toInstant)

  test("registered testdata mapping equals its four-branch form on ties, 5/6/7-day gaps and missing parts") {
    val cases = Gen.listOfN(24, testdataGen)(Gen.Parameters.default, Seed(11L)).get
    import spark.implicits._
    for ((t, i) <- cases.zipWithIndex) {
      val lineitem = t.lines.map { case (o, p, q, ship) => (o.toLong, p.toLong, q, timestamp(ship, 13)) }
        .toDF("l_orderkey", "l_partkey", "l_quantity", "l_shipdate")
      val orders = t.orders.map { case (o, day) => (o.toLong, timestamp(day)) }
        .toDF("o_orderkey", "o_orderdate")
      val part = t.parts.map(p => (p.toLong, s"part $p")).toDF("p_partkey", "p_name")
      val expected = CteTestdataBestPerformingProduct(lineitem, orders, part)
      val actual = BestPerformingProduct(lineitem, orders, part)
      assert(actual.schema.map(f => f.name -> f.dataType) ==
        expected.schema.map(f => f.name -> f.dataType), s"case $i schema")
      assert(actual.collect().map(exact).toSeq == expected.collect().map(exact).toSeq,
        s"case $i: $t")
    }
    // the four-branch form never releases its persists
    spark.catalog.clearCache()
    assert(cases.count(_.averageTie) >= 6 && cases.count(_.dayTie) >= 6)
  }
}

object BestPerformingProductPropertySpec {
  private final case class Testdata(
      lines: Seq[(Int, Int, Double, LocalDate)], // l_orderkey, l_partkey, l_quantity, ship day
      parts: Seq[Int],
      orders: Seq[(Int, LocalDate)],              // o_orderkey, order day
      averageTie: Boolean, dayTie: Boolean)

  private final case class Tables(
      reviews: Seq[(Option[Int], Int)],
      products: Seq[Int],
      orders: Seq[(Int, LocalDate, Int)],       // order_id, order_date, product_id
      dates: Seq[(LocalDate, Int, Boolean)],    // calendar_dt, day of week, working
      shipments: Seq[(Int, Int, Option[LocalDate], Option[LocalDate])],
      averageTie: Boolean, dayTie: Boolean)
}
