package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV source/sink — the Spark-native replacement for the reference's
  * S3→pandas→COPY ingest and COPY→S3 export paths (SURVEY.md §2.1
  * S1–S6).
  *
  * The reference marshals every byte through one driver-process
  * `StringIO` buffer (`orders_ETL.py:47,55-57,138`) — the inversion
  * here is the whole point: executors read byte ranges of the object
  * directly, schema is declared (never inferred), and writes are
  * partitioned files.
  */
object Csv {

  /** Configure anonymous (unsigned) S3 access for public buckets —
    * the reference reads a public bucket with unsigned requests
    * (`orders_ETL.py:46-52`, `signature_version=UNSIGNED`).
    */
  def configureAnonymousS3(spark: SparkSession): Unit = {
    spark.conf.set("spark.hadoop.fs.s3a.aws.credentials.provider",
      "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider")
  }

  /** Headered CSV with a declared schema (S1/S2). `path` may be
    * local, `s3a://`, or any Hadoop-supported scheme; the same call
    * serves the smoke fixture and a 100 TB bucket — partitioning
    * comes from file splits.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("dateFormat", "yyyy-MM-dd")
      .csv(path)

  /** Single-file headered CSV export (S5/S6) — matches the
    * reference's one-object `put` shape. Only for small analytics
    * outputs (the three reference outputs are 1-row tables); large
    * results should use [[writePartitioned]].
    */
  def writeSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** Partitioned CSV write — the scale path for big exports. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).option("header", "true")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).csv(path)
  }
}
