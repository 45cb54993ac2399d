package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusSync
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.CacheEntries
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, SparkSpec}

/** The registered `best_performing_product` over files: it leaves no
  * cached plan behind, so a rerun over rewritten input gives the fresh
  * answer, and its plan reads every input once (orders twice: as the
  * fact and for the derived date dimension).
  */
class BestPerformingProductSpec extends SparkSpec {

  private def query(dir: String): DataFrame =
    SparkEntry.queries("best_performing_product")(spark, dir)

  /** `df`'s rows, asserting that building and running it leaves the
    * session's cache as it found it.
    */
  private def collectScoped(df: => DataFrame): Seq[Row] = {
    val cached = CacheEntries(spark)
    val rows = df.collect().toSeq
    assert(CacheEntries(spark) == cached, "the query left a cache entry behind")
    rows
  }

  private def copyTree(from: Path, to: Path): String = {
    Files.walk(from).iterator().asScala.foreach(f =>
      Files.copy(f, to.resolve(from.relativize(f).toString)))
    to.toString
  }

  test("a rerun over rewritten lineitem gives the fresh answer and leaves no cache entry") {
    withTempDir { t =>
      val dir = copyTree(Paths.get(sf), t.resolve("in"))
      val first = collectScoped(query(dir))
      // every line of one losing part now rates 5, every other line 1;
      // the new file is moved into place outside Spark, as a user's
      // upload would be (a Spark write to the path recaches it)
      val t0 = graft.catalog.Tables(spark, sf)
      val loser = t0.lineitem.join(t0.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t0.part, col("l_partkey") === col("p_partkey"))
        .where(col("p_name") =!= first.head.getAs[String]("product_name"))
        .agg(min(col("l_partkey"))).head().getLong(0)
      val staged = t.resolve("lineitem.parquet")
      t0.lineitem.withColumn("l_quantity",
        when(col("l_partkey") === loser, 4.0).otherwise(0.0)).write.parquet(staged.toString)
      val lineitem = Paths.get(dir, "lineitem.parquet")
      graft.streaming.EventsStream.deleteRecursively(lineitem)
      copyTree(staged, lineitem)

      val second = collectScoped(query(dir))
      val fresh = collectScoped(query(copyTree(Paths.get(dir), t.resolve("fresh"))))
      assert(second != first)
      assert(second == fresh)
    }
  }

  /** The executed plans of the actions `body` runs. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add(qe.executedPlan)
    }
    spark.listenerManager.register(l)
    try {
      body
      ListenerBusSync.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  test("scans lineitem and part once and orders twice, aggregating by hash, persisting nothing") {
    val plans = executedPlans(collectScoped(query(sf)))
    def all[T](pf: PartialFunction[SparkPlan, T]) = plans.flatMap(PlanWalk.collect(_)(pf))
    val scanned = all { case s: FileSourceScanExec => s }
      .flatMap(_.relation.location.rootPaths.map(_.getName))
    assert(scanned.sorted == Seq("lineitem.parquet", "orders.parquet", "orders.parquet",
      "part.parquet"))
    assert(all { case a: SortAggregateExec => a }.isEmpty)
    assert(all { case m: InMemoryTableScanExec => m }.isEmpty)
  }
}

private object PlanWalk extends AdaptiveSparkPlanHelper
