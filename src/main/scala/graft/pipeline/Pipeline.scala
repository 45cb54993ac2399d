package graft.pipeline

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** extract → transform → load runner — the Spark-native mapping of
  * the reference's 3-task Airflow DAGs (`orders_ETL.py:152-166`,
  * SURVEY.md §2.9 D1).
  *
  * D2 (retries=2) becomes a simple stage retry wrapper over non-fatal
  * errors; fatal ones, interrupts and constraint violations (which a
  * rerun of the same input would only repeat) propagate at once. D3 (the
  * reference swallows every exception and prints — `orders_ETL.py:
  * 66-67,130-131,146-147`) is consciously NOT replicated: stages
  * fail fast after retries are exhausted.
  */
trait Pipeline {
  def name: String
  def extract(spark: SparkSession): DataFrame
  def transform(df: DataFrame): DataFrame
  def load(df: DataFrame): Unit

  def retries: Int = 2

  final def run(spark: SparkSession): Unit = {
    val extracted   = retry("extract")(extract(spark))
    val transformed = retry("transform")(transform(extracted))
    retry("load")(load(transformed))
  }

  private def retry[T](stage: String)(body: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt <= retries) {
      try return body
      catch {
        case e: graft.catalog.Constraints.ConstraintViolation => throw e
        case NonFatal(e) =>
          last = e
          attempt += 1
          if (attempt <= retries)
            System.err.println(s"[$name/$stage] attempt $attempt failed, retrying: ${e.getMessage}")
      }
    }
    throw new RuntimeException(s"[$name/$stage] failed after ${retries + 1} attempts", last)
  }
}

/** The three concrete reference pipelines: headered CSV in (declared
  * schema), analytics transform, single-file headered CSV out —
  * exactly the reference's shape with the driver-marshalling removed.
  */
object ReferencePipelines {
  import graft.catalog.{Constraints, ReferenceSchemas}
  import ReferenceSchemas._
  import graft.sources.Csv
  import graft.transforms.ReferenceTransforms

  /** Input CSVs expected under `$inDir/<table>.csv`; outputs written
    * to `$outDir/<analytics_table>/`.
    */
  final case class AggPublicHolidayPipeline(inDir: String, outDir: String) extends Pipeline {
    val name = "agg_public_holiday"
    def extract(s: SparkSession): DataFrame = Csv.read(s, s"$inDir/orders.csv", orders)
    def transform(df: DataFrame): DataFrame =
      ReferenceTransforms.aggPublicHoliday(
        df, Csv.read(df.sparkSession, s"$inDir/dim_dates.csv", dimDates))
    def load(df: DataFrame): Unit = commit(df, name, outDir, Seq("ingestion_date"))
  }

  final case class AggShipmentsPipeline(inDir: String, outDir: String) extends Pipeline {
    val name = "agg_shipments"
    def extract(s: SparkSession): DataFrame =
      Csv.read(s, s"$inDir/shipments_deliveries.csv", shipmentsDeliveries)
    def transform(df: DataFrame): DataFrame =
      ReferenceTransforms.aggShipments(
        df, Csv.read(df.sparkSession, s"$inDir/orders.csv", orders))
    def load(df: DataFrame): Unit = commit(df, name, outDir, Seq("ingestion_date"))
  }

  final case class BestPerformingProductPipeline(inDir: String, outDir: String) extends Pipeline {
    val name = "best_performing_product"
    def extract(s: SparkSession): DataFrame = Csv.read(s, s"$inDir/reviews.csv", reviews)
    def transform(df: DataFrame): DataFrame = {
      val s = df.sparkSession
      ReferenceTransforms.bestPerformingProduct(
        df,
        Csv.read(s, s"$inDir/dim_products.csv", dimProducts),
        Csv.read(s, s"$inDir/orders.csv", orders),
        Csv.read(s, s"$inDir/dim_dates.csv", dimDates),
        Csv.read(s, s"$inDir/shipments_deliveries.csv", shipmentsDeliveries))
    }
    def load(df: DataFrame): Unit =
      commit(df, name, outDir, Seq("ingestion_date", "product_name"))
  }

  /** The reference's DDL constraints (primary key `ingestion_date`,
    * §1.4) checked on the once-computed transform output, whose rows
    * are then written to `$outDir/<table>/` without computing it again.
    */
  private def commit(df: DataFrame, table: String, outDir: String,
                     notNull: Seq[String]): Unit =
    Constraints.enforce(df, table, primaryKey = Seq("ingestion_date"), notNull)(
      Csv.writeSingle(_, s"$outDir/$table"))
}
