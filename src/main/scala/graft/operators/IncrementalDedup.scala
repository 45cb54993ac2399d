package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Cross-run exact dedup against a persisted fingerprint store — the
  * batch complement to `EventsStream.dedupStream`: the stream variant
  * bounds state by a watermark horizon, this one remembers FOREVER by
  * keeping only 16-byte content hashes in a parquet store keyed for
  * the anti-join.
  *
  * Scale notes: the store carries one md5 per unique doc ever kept —
  * at 100 TB of text that is orders of magnitude smaller than the
  * corpus and shuffles by hash in the left_anti join (nothing is
  * broadcast or collected; Spark may still choose to broadcast while
  * the store is genuinely small, which is the right call early). New
  * fingerprints APPEND and the store is never rewritten, but every run
  * scans the whole store in the anti-join: a run costs O(batch + store),
  * where the store grows with the history of distinct docs. A run's
  * fingerprints are appended only after its rows reach the sink, so a
  * run whose sink failed is replayed in full, and a run that failed
  * between its sink and its append re-sinks the same rows: delivery to
  * the sink is at-least-once.
  */
object IncrementalDedup {

  private val StoreSchema = StructType(Seq(StructField("h", StringType)))

  /** Keep the canonical (min doc_id) row per new content hash, drop
    * anything whose hash is already in the store, hand the kept rows
    * to `sink`, and only then append their hashes to the store.
    *
    * The kept rows are materialised once and released either way; a
    * `sink` that throws leaves the store as it was.
    */
  def dedupAgainstStore[T](batch: DataFrame, storePath: String)(
      sink: DataFrame => T): T = {
    // NULL text hashes to NULL, and NULL join keys never match in the
    // left_anti — a null-text row would be re-kept and a NULL
    // fingerprint re-appended on EVERY batch. Normalize to '' first
    // (null and empty text dedup together, documented).
    val hashed = batch.withColumn("h", md5(coalesce(col("text"), lit(""))))
    // in-batch canonicalization first: min doc_id per hash
    val canonical = hashed
      .withColumn("canon", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("canon")).drop("canon")
    val kept = canonical.join(storeDf(batch.sparkSession, storePath),
      Seq("h"), "left_anti")
    kept.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val out = sink(kept)
      // last read of kept: the append re-caches every plan that reads
      // storePath, and kept re-run against the grown store is empty
      kept.select(col("h")).write.mode(SaveMode.Append).parquet(storePath)
      out
    } finally kept.unpersist()
  }

  /** Rewrite the store as distinct hashes. A hash lands twice when
    * two runs append it (writers racing on one store, or an append
    * replayed by hand) — correct but redundant, the anti-join ignores
    * dupes — so an unattended pipeline should compact on a schedule
    * or when `storeDuplication` drifts above ~2×; compaction is one
    * shuffle over the store, never the corpus.
    */
  def compactStore(spark: SparkSession, storePath: String): Unit = {
    // checkpoint severs lineage from storePath so the overwrite
    // doesn't read-from/write-to the same files
    val distinctHashes =
      storeDf(spark, storePath).distinct().localCheckpoint(true)
    distinctHashes.write.mode(SaveMode.Overwrite).parquet(storePath)
  }

  /** total/distinct hash ratio — 1.0 means fully compact. */
  def storeDuplication(spark: SparkSession, storePath: String): Double = {
    val r = storeDf(spark, storePath)
      .agg(count(lit(1)).cast("double").as("n"),
        count_distinct(col("h")).cast("double").as("d"))
      .head()
    if (r.getDouble(1) == 0) 1.0 else r.getDouble(0) / r.getDouble(1)
  }

  private def storeDf(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(StoreSchema).parquet(path)
    else // first run: no store yet
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StoreSchema)
  }
}
