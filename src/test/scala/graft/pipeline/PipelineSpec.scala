package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusSync
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** End-to-end pipeline tests on FIXTURES.md §A-shaped CSV fixtures,
  * covering the reference edge cases: late boundary 5/6/7 days ×
  * delivery-null grid, the 15-day undelivered rule, working_day ×
  * weekday grid, and the top-1 argmax.
  */
class PipelineSpec extends SparkSpec {

  /** Writes the CSV fixtures under `tmp` and returns their dir. */
  private def fixtures(tmp: java.nio.file.Path): String = {
    val d = Files.createDirectories(tmp.resolve("in")).toString
    def write(name: String, lines: String*): Unit =
      Files.writeString(new java.io.File(s"$d/$name.csv").toPath, lines.mkString("\n"))
    // 2022-08-22 Mon working; 2022-08-25 Thu holiday; 2022-08-27 Sat
    // weekend; 2022-09-01 Thu holiday; 2022-08-21 Sun weekend
    write("dim_dates",
      "calendar_dt,year_num,month_of_the_year_num,day_of_the_month_num,day_of_the_week_num,working_day",
      "2022-08-21,2022,8,21,7,false",
      "2022-08-22,2022,8,22,1,true",
      "2022-08-25,2022,8,25,4,false",
      "2022-08-27,2022,8,27,6,false",
      "2022-09-01,2022,9,1,4,false")
    write("orders",
      "order_id,customer_id,order_date,product_id,unit_price,quantity,amount",
      "1,10,2022-08-25,7,5,2,10",   // holiday order (Aug)
      "2,11,2022-08-22,7,5,1,5",    // working-day order
      "3,12,2022-08-27,8,4,1,4",    // weekend order
      "4,13,2022-09-01,8,4,2,8",    // holiday order (Sep)
      "5,14,2022-08-21,7,5,1,5")    // exactly 15 days before 2022-09-05
    write("shipments_deliveries",
      "shipment_id,order_id,shipment_date,delivery_date",
      "100,1,2022-08-30,",           // 5 days, undelivered: NOT late
      "101,2,2022-08-28,",           // 6 days, undelivered: late
      "102,3,2022-09-03,2022-09-04", // 7 days but delivered: not late
      "103,4,,",                     // never shipped, 4 days old: not undelivered
      "104,5,,")                     // never shipped, 15 days old: undelivered
    write("reviews",
      "review,product_id",
      "5,7", "5,7", "1,7", "3,8", "3,8")
    write("dim_products",
      "product_id,product_category,product_name",
      "7,toys,widget", "8,tools,gadget")
    d
  }

  private def cacheEntries = org.apache.spark.sql.graftshim.CacheEntries(spark)

  private def runAndRead(p: Pipeline, out: String) = {
    val cached = cacheEntries
    p.run(spark)
    assert(cacheEntries == cached, s"${p.name} left a cache entry behind")
    spark.read.option("header", "true").csv(out).collect()(0)
  }

  test("agg_public_holiday pipeline end-to-end over CSV") {
    withTempDir { t =>
      val out = s"$t/out"
      val row = runAndRead(
        ReferencePipelines.AggPublicHolidayPipeline(fixtures(t), out),
        s"$out/agg_public_holiday")
      assert(row.getAs[String]("tt_order_hol_aug") == "1")
      assert(row.getAs[String]("tt_order_hol_sep") == "1")
      assert(row.getAs[String]("tt_order_hol_jul") == "0")
    }
  }

  test("agg_shipments pipeline: late boundary and 15-day undelivered rule") {
    withTempDir { t =>
      val out = s"$t/out"
      val row = runAndRead(
        ReferencePipelines.AggShipmentsPipeline(fixtures(t), out),
        s"$out/agg_shipments")
      assert(row.getAs[String]("tt_late_shipments") == "1")    // only order 2
      assert(row.getAs[String]("tt_undelivered_items") == "1") // only order 5
    }
  }

  test("best_performing_product pipeline: argmax product, star split, ship pcts") {
    withTempDir { t =>
      val out = s"$t/out"
      val row = runAndRead(
        ReferencePipelines.BestPerformingProductPipeline(fixtures(t), out),
        s"$out/best_performing_product")
      // product 7: reviews 5,5,1 → avg 3.67 beats product 8's 3.0
      assert(row.getAs[String]("product_name") == "widget")
      // reference semantics: reviews fan out through the orders join
      // (3 orders for product 7), so points = (5+5+1) × 3 — the avg is
      // unaffected but SUM(review) multiplies (reviews_ETL.py:110-119)
      assert(row.getAs[String]("tt_review_points") == "33")
      val p1 = row.getAs[String]("pct_one_star_review").toDouble
      val p5 = row.getAs[String]("pct_five_star_review").toDouble
      assert(math.abs(p1 - 100.0 / 3) < 0.34)
      assert(math.abs(p5 - 200.0 / 3) < 0.34)
    }
  }

  test("a rerun in the same session sees rewritten input, not a stale cache") {
    withTempDir { t =>
      val in = fixtures(t)
      val out = s"$t/out"
      val p = ReferencePipelines.BestPerformingProductPipeline(in, out)
      val first = runAndRead(p, s"$out/best_performing_product")
      assert(first.getAs[String]("product_name") == "widget")
      // product 8 now averages 5 against product 7's 1
      Files.writeString(Paths.get(in, "reviews.csv"), "review,product_id\n1,7\n1,7\n5,8\n5,8")
      val second = runAndRead(p, s"$out/best_performing_product")
      assert(second.getAs[String]("product_name") == "gadget")
    }
  }

  /** The executions `p.run` reports to a QueryExecutionListener, as
    * (function name, executed plan); a failed one is named `failed <f>`.
    */
  private def executions(p: Pipeline): Seq[(String, SparkPlan)] = {
    val seen = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = seen.add(funcName -> qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        seen.add(s"failed $funcName" -> qe.executedPlan)
    }
    spark.listenerManager.register(l)
    try {
      p.run(spark)
      ListenerBusSync.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  test("a clean run executes the transform once: one execution, one write") {
    withTempDir { t =>
      val out = s"$t/out"
      val in = fixtures(t)
      for (p <- Seq(ReferencePipelines.AggPublicHolidayPipeline(in, out),
                    ReferencePipelines.AggShipmentsPipeline(in, out),
                    ReferencePipelines.BestPerformingProductPipeline(in, out))) {
        // every reference output is one row, collected and checked on
        // the driver; the sink's write reaches the listener as "command"
        assert(executions(p).map(_._1).sorted == Seq("collect", "command"),
          s"${p.name} executions")
      }
    }
  }

  /** File scans run by `plans`, through adaptive query stages and,
    * once per cached relation, into the plan that builds it; a reused
    * exchange is not a scan.
    */
  private def fileScans(plans: Seq[SparkPlan]): Seq[FileSourceScanExec] = {
    val cached = plans.flatMap(PlanWalk.collect(_) {
      case m: InMemoryTableScanExec => m.relation.cachedPlan
    }).distinct
    (plans ++ cached).flatMap(PlanWalk.collect(_) { case s: FileSourceScanExec => s })
  }

  test("best_performing_product scans each input file once, aggregating by hash") {
    withTempDir { t =>
      val plans = executions(
        ReferencePipelines.BestPerformingProductPipeline(fixtures(t), s"$t/out")).map(_._2)
      val scanned = fileScans(plans)
        .flatMap(_.relation.location.rootPaths.map(p => new java.io.File(p.toUri).getName))
      assert(scanned.sorted == Seq("dim_dates.csv", "dim_products.csv", "orders.csv",
        "reviews.csv", "shipments_deliveries.csv"))
      assert(plans.flatMap(PlanWalk.collect(_) { case a: SortAggregateExec => a }).isEmpty)
    }
  }
}

private object PlanWalk extends AdaptiveSparkPlanHelper
