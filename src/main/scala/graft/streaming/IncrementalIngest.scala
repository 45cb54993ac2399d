package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Incremental re-run mode for the reference's `@once` ETL
  * (SURVEY.md §1.2/§7.5): a file-source stream over the staging CSV
  * drop directory with `Trigger.AvailableNow` + a checkpoint. Each
  * invocation ingests exactly the files that arrived since the last
  * run and stops — the reference's one-shot semantics made
  * re-runnable with exactly-once file tracking, no bookkeeping code.
  *
  * At scale this is the standard landing-zone pattern: writers drop
  * objects, each ingest run picks up the delta, output is
  * partitioned parquet.
  */
object IncrementalIngest extends StreamingProvider {

  /** Drain all unprocessed CSVs from `srcDir` into parquet at
    * `destDir`. Returns after the drain completes. The checkpoint
    * directory carries the processed-files log between runs.
    */
  def ingestCsv(spark: SparkSession, srcDir: String, schema: StructType,
                destDir: String, checkpointDir: String): Unit = {
    val q = spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("dateFormat", "yyyy-MM-dd")
      .csv(srcDir)
      .writeStream
      .format("parquet")
      .option("path", destDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming corpus ingest with cross-run exact dedup: drain the
    * unprocessed JSON-lines document drops from `srcDir` and keep,
    * per micro-batch, only docs whose content hash is new — new
    * within the batch AND against every doc ever ingested (the
    * persisted fingerprint store, `operators.IncrementalDedup`).
    * Kept rows append to `destDir`.
    *
    * Delivery story at scale: the checkpoint makes file pickup
    * exactly-once, and a batch's fingerprints are appended only after
    * its rows reach `destDir`. A batch whose destination write failed
    * is replayed in full on the next run; one that failed after that
    * write is delivered again. Delivery to `destDir` is therefore
    * at-least-once: consumers dedup on `h` if they need strict
    * idempotence. State is 16 bytes per unique doc ever seen, NOT
    * per-doc text — the store shuffles in the anti-join, nothing is
    * collected or broadcast.
    */
  def ingestDocumentsDedup(spark: SparkSession, srcDir: String,
                           schema: StructType, destDir: String,
                           checkpointDir: String, storePath: String): Unit = {
    val q = spark.readStream
      .schema(schema)
      .json(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.IncrementalDedup.dedupAgainstStore(batch.toDF(), storePath)(
          _.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(destDir))
      }
      .start()
    q.awaitTermination()
  }

  /** Move the part files of a one-off `df.write.json` into the flat
    * landing dir under stable names — mimics an object-store writer
    * dropping files for the ingest stream to discover.
    */
  private def dropJson(df: org.apache.spark.sql.DataFrame,
                       scratch: java.nio.file.Path, landing: java.nio.file.Path,
                       prefix: String): Unit = {
    import scala.jdk.CollectionConverters._
    df.coalesce(1).write.mode("overwrite").json(scratch.toString)
    val parts = java.nio.file.Files.list(scratch).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq.sortBy(_.toString)
    parts.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.move(p, landing.resolve(s"$prefix-$i.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Oracle-pinned run of the REAL incremental-ingest dataflow (the
    * last spec-only pipeline capability, r9 verdict #6): two landing-
    * zone drops — the even-doc_id half of the corpus, then the WHOLE
    * corpus — drained by two [[ingestDocumentsDedup]] invocations
    * sharing one checkpoint and one fingerprint store. The run
    * exercises, under the DuckDB hash gate: exactly-once file pickup
    * (drop 1's files are NOT reprocessed by run 2), in-batch
    * canonicalization (min doc_id per text), and cross-RUN dedup
    * through the persisted store (run 2 keeps only texts run 1 never
    * saw). The ingested parquet therefore holds exactly one row per
    * distinct text: the minimum even doc_id where one exists (run 1's
    * canonical), else the minimum doc_id — a winner the oracle states
    * in one aggregate. Scratch lives under one fixed tmp root deleted
    * at the START of each invocation, so repeated bench/verify runs
    * can't accumulate state (or /tmp trees) across invocations.
    */
  def queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "stream_incremental_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // same RAM-backed scratch-root selection as the throwaway
      // streaming checkpoints (EventsStream.scratchDir rationale):
      // the landing zone, checkpoint, store and ingested parquet are
      // all deleted at the start of the next invocation — fsyncing
      // them onto the block device is pure waste
      val shm = java.nio.file.Paths.get("/dev/shm")
      val root =
        if (java.nio.file.Files.isDirectory(shm) &&
            java.nio.file.Files.isWritable(shm)) shm
        else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      val base = root.resolve("graft-ingest-oracle")
      EventsStream.deleteRecursively(base)
      val (src, scratch) = (base.resolve("src"), base.resolve("scratch"))
      val (dest, ck, store) = (base.resolve("dest"), base.resolve("ck"),
        base.resolve("store"))
      java.nio.file.Files.createDirectories(src)
      dropJson(docs.filter(col("doc_id") % 2 === 0), scratch, src, "drop1")
      ingestDocumentsDedup(s, src.toString, docs.schema, dest.toString,
        ck.toString, store.toString)
      dropJson(docs, scratch, src, "drop2")
      ingestDocumentsDedup(s, src.toString, docs.schema, dest.toString,
        ck.toString, store.toString)
      s.read.schema(docs.schema).parquet(dest.toString)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
    })
  )

  def oracles: Map[String, String] = Map(
    // winner per distinct text: run 1 canonicalizes min EVEN doc_id;
    // a text with no even doc survives to run 2, where the canonical
    // is the overall min doc_id. The dedup key is coalesce(text,'')
    // on BOTH sides — the engine fingerprints md5(coalesce(text,'')),
    // so NULL and '' are one class and NULL-text rows are kept; a
    // plain GROUP BY text + equi-join would keep them distinct and
    // silently drop NULL-text rows (latent with the current fixture,
    // wrong the day it gains one)
    "stream_incremental_ingest" ->
      """WITH win AS (
        |  SELECT coalesce(text, '') AS tkey,
        |    coalesce(min(CASE WHEN doc_id % 2 = 0 THEN doc_id END),
        |             min(doc_id)) AS wid
        |  FROM documents GROUP BY coalesce(text, ''))
        |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        |FROM documents d
        |JOIN win w ON coalesce(d.text, '') = w.tkey AND d.doc_id = w.wid""".stripMargin
  )
}
