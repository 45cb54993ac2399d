package graft.streaming

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, md5}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

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
    * unprocessed JSON-lines document drops from `srcDir` into parquet
    * at `destDir`, keeping only docs whose content hash
    * `h = md5(coalesce(text, ''))` no earlier drop has kept. NULL and
    * empty text are one class. Within a drop, a new hash keeps every
    * row whose `doc_id` equals the least non-NULL `doc_id` among its
    * rows; rows with a NULL `doc_id` are never kept, and a hash that
    * keeps no row stays unseen. Kept rows carry `h` as their first
    * column.
    *
    * The seen hashes live in the streaming state store, keyed by `h`
    * (`flatMapGroupsWithState`, one `Boolean` per hash), so a drop
    * costs one job, one state commit and one sink commit, and never
    * reads earlier drops' rows. The parquet file sink's
    * `_spark_metadata` log makes delivery to `destDir` exactly-once:
    * a batch replayed after a crash re-runs against the state it
    * started from, and the sink skips a batch it already committed.
    * Read `destDir` through Spark (or the sink log), not by globbing
    * its files, which may include a failed attempt's orphans.
    *
    * State lives in the session's state-store provider: the HDFS-backed
    * default keeps every seen hash on the heap (DEPLOY.md states the
    * cost); RocksDB is Spark's own `providerClass` setting. The state
    * partition count is fixed by the checkpoint at its first run, from
    * the landing bytes at that moment ([[EventsStream.statePartitions]]).
    */
  def ingestDocumentsDedup(spark: SparkSession, srcDir: String,
                           schema: StructType, destDir: String,
                           checkpointDir: String): Unit = {
    require(schema("doc_id").dataType == LongType, "doc_id must be a bigint")
    val hashed = spark.readStream.schema(schema).json(srcDir)
      .select(md5(coalesce(col("text"), lit(""))).as("h") +:
        schema.fieldNames.toSeq.map(col): _*)
    val rowEnc = Encoders.row(hashed.schema)
    val kept = hashed.groupBy(col("h")).as[String, Row](Encoders.STRING, rowEnc)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        firstSighting(hashed.schema.fieldIndex("doc_id")))(Encoders.scalaBoolean, rowEnc)
    val q = EventsStream.withStatePartitions(spark,
        EventsStream.statePartitions(spark, srcDir)) {
      kept.writeStream
        .format("parquet").option("path", destDir)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
  }

  @deprecated("the fingerprint store is gone: seen hashes live in the " +
    "checkpoint's state; use the form without storePath", "0.1.0")
  def ingestDocumentsDedup(spark: SparkSession, srcDir: String,
                           schema: StructType, destDir: String,
                           checkpointDir: String, storePath: String): Unit =
    ingestDocumentsDedup(spark, srcDir, schema, destDir, checkpointDir)

  /** One hash's rows of one drop: the rows holding the least non-NULL
    * `doc_id` (column `id`), if the hash was never seen and such a row
    * exists; only then is the hash marked seen.
    */
  private def firstSighting(id: Int)(
      h: String, rows: Iterator[Row], seen: GroupState[Boolean]): Iterator[Row] =
    if (seen.exists) Iterator.empty
    else {
      val withId = rows.filterNot(_.isNullAt(id)).toVector
      if (withId.isEmpty) Iterator.empty
      else {
        val least = withId.map(_.getLong(id)).min
        seen.update(true)
        withId.iterator.filter(_.getLong(id) == least)
      }
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
    * sharing one checkpoint. The run
    * exercises, under the DuckDB hash gate: exactly-once file pickup
    * (drop 1's files are NOT reprocessed by run 2), in-batch
    * canonicalization (min doc_id per text), and cross-RUN dedup
    * through the checkpoint's keyed state (run 2 keeps only texts run
    * 1 never saw). The ingested parquet therefore holds exactly one row
    * per distinct text: the minimum even doc_id where one exists (run 1's
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
      // the landing zone, checkpoint and ingested parquet are
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
      val (dest, ck) = (base.resolve("dest"), base.resolve("ck"))
      java.nio.file.Files.createDirectories(src)
      dropJson(docs.filter(col("doc_id") % 2 === 0), scratch, src, "drop1")
      ingestDocumentsDedup(s, src.toString, docs.schema, dest.toString, ck.toString)
      dropJson(docs, scratch, src, "drop2")
      ingestDocumentsDedup(s, src.toString, docs.schema, dest.toString, ck.toString)
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
