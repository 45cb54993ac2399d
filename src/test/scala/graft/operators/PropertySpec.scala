package graft.operators

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based invariants (SURVEY.md §5.2.3): ScalaCheck
  * generators produce one seeded batch per property, evaluated in a
  * single Spark job (per-case jobs would be pathologically slow).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    Gen.listOfN(n, g)(Gen.Parameters.default, Seed(42L)).get

  private val dateGen: Gen[Date] =
    Gen.choose(0L, 20000L).map(d => new Date(d * 86400000L))

  test("DateDim invariants: dow ∈ 1..7, holiday ⇒ weekday, 1st/25th never working") {
    val dates = sample(dateGen, 300).distinct
    val dim = DateDim.fromDates(dates.toDF("calendar_dt"))
      .withColumn("hol",
        graft.transforms.ReferenceTransforms.isPublicHoliday(col("working_day"), col("day_of_the_week_num")))
      .collect()
    dim.foreach { r =>
      val (dt, dow, mon, working, hol) =
        (r.getDate(0), r.getInt(1), r.getInt(2), r.getBoolean(3), r.getBoolean(4))
      assert(dow >= 1 && dow <= 7)
      assert(mon >= 1 && mon <= 12)
      val dom = dt.toLocalDate.getDayOfMonth
      if (dom == 1 || dom == 25) assert(!working, s"$dt day $dom must be non-working")
      if (hol) assert(dow <= 5, s"holiday $dt must be a weekday")
      if (working) assert(dow <= 5 && dom != 1 && dom != 25)
    }
  }

  test("agg_shipments bounds: 0 <= late, undelivered <= joined row count") {
    val orders = sample(Gen.zip(Gen.choose(1, 50), dateGen), 100)
      .map { case (id, d) => (id.toLong, 1L, new java.sql.Timestamp(d.getTime)) }
      .distinctBy(_._1)
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val ships = sample(Gen.zip(Gen.choose(1, 50), dateGen, Gen.oneOf("O", "F")), 200)
      .map { case (oid, d, st) => (oid.toLong, new java.sql.Timestamp(d.getTime), st) }
      .toDF("l_orderkey", "l_shipdate", "l_linestatus")
    val joined = ships.join(orders, col("l_orderkey") === col("o_orderkey")).count()
    val r = AggShipments(ships, orders).collect()(0)
    val late = r.getAs[Long]("tt_late_shipments")
    val undel = r.getAs[Long]("tt_undelivered_items")
    assert(late >= 0 && late <= joined)
    assert(undel >= 0 && undel <= joined)
  }

  test("jaccard pairs: symmetric-free ordering, bounded in [0,1], self-sim via dups is 1") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = Gen.listOfN(8, wordGen).map(_.mkString(" "))
    val texts = sample(docGen, 60)
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
    val pairs = SparkEntryHelpers.jaccardPairs(docs).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("star percentage split always sums to ~100 for any review distribution") {
    val reviewGen = Gen.zip(Gen.choose(1L, 5L), Gen.choose(1L, 3L))
    val rows = sample(reviewGen, 500)
    val cnts = rows.toDF("review", "pid")
      .groupBy($"review").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum($"cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val pcts = cnts.select(($"cnt" * 100.0 / $"total").as("pct"))
      .as[Double].collect()
    assert(math.abs(pcts.sum - 100.0) < 1e-9)
  }
}

/** Tiny helper to reuse the blocked-jaccard logic on arbitrary doc
  * frames (the registered query reads from a directory).
  */
private object SparkEntryHelpers {
  import org.apache.spark.sql.DataFrame
  def jaccardPairs(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("lang"), col("source"),
      array_distinct(split(trim(col("text")), "\\s+")).as("toks"))
    val a = t.select(col("lang"), col("source"),
      col("doc_id").as("doc_a"), col("toks").as("toks_a"))
    val b = t.select(col("lang"), col("source"),
      col("doc_id").as("doc_b"), col("toks").as("toks_b"))
    a.join(b, Seq("lang", "source"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(array_union(col("toks_a"), col("toks_b"))).cast("double"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }
}
