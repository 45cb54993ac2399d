package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.graftshim.ListenerBusSync
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.streaming.ManifestFileCommitProtocol
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkSpec
import graft.catalog.ReferenceSchemas

class IncrementalIngestSpec extends SparkSpec {

  test("each run ingests exactly the newly-arrived files, no reprocessing") {
    withTempDir { t =>
      val src = Files.createDirectories(t.resolve("src")).toString
      val dest = s"$t/out"
      val ck = s"$t/ck"

      def drop(name: String, rows: String*): Unit =
        Files.writeString(new java.io.File(s"$src/$name").toPath,
          ("review,product_id" +: rows).mkString("\n"))
      def ingest(): Long = {
        IncrementalIngest.ingestCsv(spark, src, ReferenceSchemas.reviews, dest, ck)
        spark.read.parquet(dest).count()
      }

      drop("batch1.csv", "5,7", "4,8")
      assert(ingest() == 2)

      drop("batch2.csv", "3,7", "2,8", "1,9")
      assert(ingest() == 5) // only the 3 new rows appended

      assert(ingest() == 5) // idempotent re-run: nothing new, no dupes
    }
  }

  test("streaming document ingest dedups against all history across runs") {
    withTempDir { t =>
      val src = Files.createDirectories(t.resolve("src")).toString
      val dest = s"$t/docs"
      val ck = s"$t/ck"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))

      def drop(name: String, rows: String*): Unit =
        Files.writeString(new java.io.File(s"$src/$name").toPath,
          rows.mkString("\n"))
      def ingest(): Set[Long] = {
        IncrementalIngest.ingestDocumentsDedup(spark, src, schema, dest, ck)
        spark.read.parquet(dest).select("doc_id")
          .collect().map(_.getLong(0)).toSet
      }

      // run 1: in-batch dup (2 is a copy of 1) collapses to canonical 1
      drop("b1.jsonl",
        """{"doc_id": 1, "text": "alpha beta"}""",
        """{"doc_id": 2, "text": "alpha beta"}""",
        """{"doc_id": 3, "text": "gamma"}""")
      assert(ingest() == Set(1L, 3L))

      // run 2: doc 10 repeats run 1's content (dropped via the keyed
      // state, not the batch); doc 11 is new
      drop("b2.jsonl",
        """{"doc_id": 10, "text": "alpha beta"}""",
        """{"doc_id": 11, "text": "delta"}""")
      assert(ingest() == Set(1L, 3L, 11L))

      // run 3: NULL text and empty text are ONE fingerprint class
      // (md5(coalesce(text,''))) — the min-id empty/null doc is kept,
      // later null/empty arrivals dedup against it. Pins the semantics
      // the board oracle mirrors with coalesce(text,'') on both sides.
      drop("b3.jsonl",
        """{"doc_id": 20}""",
        """{"doc_id": 21, "text": ""}""",
        """{"doc_id": 22, "text": "epsilon"}""")
      assert(ingest() == Set(1L, 3L, 11L, 20L, 22L))
      // run 4: both forms arrive again — neither re-ingests
      drop("b4.jsonl",
        """{"doc_id": 30, "text": ""}""",
        """{"doc_id": 31}""")
      assert(ingest() == Set(1L, 3L, 11L, 20L, 22L))
    }
  }

  private val docSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  test("a batch whose destination write failed is ingested in full on the next run") {
    withTempDir { t =>
      val src = Files.createDirectories(t.resolve("src")).toString
      val dest = t.resolve("docs")
      val ck = s"$t/ck"
      Files.writeString(new java.io.File(s"$src/b1.jsonl").toPath, Seq(
        """{"doc_id": 1, "text": "alpha"}""",
        """{"doc_id": 2, "text": "alpha"}""",
        """{"doc_id": 3, "text": "beta"}""").mkString("\n"))
      // the sink's job commit fails after the batch is deduped and its
      // rows files are written
      val key = "spark.sql.streaming.commitProtocolClass"
      spark.conf.set(key, classOf[FailingCommitProtocol].getName)
      try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        IncrementalIngest.ingestDocumentsDedup(spark, src, docSchema,
          dest.toString, ck)
      } finally spark.conf.unset(key)
      IncrementalIngest.ingestDocumentsDedup(spark, src, docSchema,
        dest.toString, ck)
      val ids = spark.read.parquet(dest.toString).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 3L))
    }
  }

  test("later runs of the same shape reuse the compiled classes") {
    withTempDir { t =>
      import org.apache.spark.metrics.source.CodegenMetrics
      val src = Files.createDirectories(t.resolve("src")).toString
      val dest = s"$t/docs"
      val ck = s"$t/ck"
      def ingest(run: Int): Unit = {
        Files.writeString(new java.io.File(s"$src/b$run.jsonl").toPath,
          (0 until 4).map(i =>
            s"""{"doc_id": ${run * 10 + i}, "text": "t${i % 3}-$run"}""")
            .mkString("\n"))
        IncrementalIngest.ingestDocumentsDedup(spark, src, docSchema, dest, ck)
      }
      ingest(1)
      ingest(2)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      ingest(3)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0)
      assert(spark.read.parquet(dest).count() == 9)
    }
  }

  /** Runs `body`, then returns the location of every file scan in
    * every SQL execution it started (micro-batches included, which a
    * `QueryExecutionListener` is never told of) and each streaming
    * progress as (batch id, input rows).
    */
  private def observed(body: => Unit): (Seq[String], Seq[(Long, Long)]) = {
    val scans = new ConcurrentLinkedQueue[String]()
    val progress = new ConcurrentLinkedQueue[(Long, Long)]()
    def walk(p: SparkPlanInfo): Unit = {
      p.metadata.get("Location").foreach(scans.add)
      p.children.foreach(walk)
    }
    val sl = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => walk(s.sparkPlanInfo)
        case _ =>
      }
    }
    val ql = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.batchId -> e.progress.numInputRows)
    }
    spark.sparkContext.addSparkListener(sl)
    spark.streams.addListener(ql)
    try {
      body
      ListenerBusSync.waitUntilEmpty(spark.sparkContext)
      (scans.asScala.toSeq, progress.asScala.toSeq)
    } finally {
      spark.sparkContext.removeSparkListener(sl)
      spark.streams.removeListener(ql)
    }
  }

  private def docRows(dest: String): Seq[String] =
    spark.read.parquet(dest).collect().map(_.toString).sorted.toSeq

  test("a run replayed after its commit was lost writes no row twice") {
    withTempDir { t =>
      val src = Files.createDirectories(t.resolve("src")).toString
      val (dest, ck) = (s"$t/docs", s"$t/ck")
      def ingest(name: String, rows: String*): Unit = {
        Files.writeString(new java.io.File(s"$src/$name").toPath, rows.mkString("\n"))
        IncrementalIngest.ingestDocumentsDedup(spark, src, docSchema, dest, ck)
      }
      ingest("b1.jsonl", """{"doc_id": 1, "text": "alpha"}""",
        """{"doc_id": 2, "text": "alpha"}""")
      ingest("b2.jsonl", """{"doc_id": 3, "text": "beta"}""",
        """{"doc_id": 4, "text": "alpha"}""")
      val before = docRows(dest)
      assert(before.size == 2)
      // the newest batch ran and reached the sink, but its commit is lost
      val commits = Paths.get(ck, "commits")
      val newest = Files.list(commits).iterator().asScala
        .map(_.getFileName.toString).filter(_.forall(_.isDigit)).maxBy(_.toLong)
      Files.delete(commits.resolve(newest))
      Files.deleteIfExists(commits.resolve(s".$newest.crc"))
      val (_, progress) =
        observed(IncrementalIngest.ingestDocumentsDedup(spark, src, docSchema, dest, ck))
      assert(progress.map(_._1).contains(newest.toLong), progress)
      assert(docRows(dest) == before)
    }
  }

  test("a run reads only its own drop: no earlier drop's rows, no scan of the destination") {
    withTempDir { t =>
      val src = Files.createDirectories(t.resolve("src")).toString
      val (dest, ck) = (s"$t/docs", s"$t/ck")
      def ingest(run: Int, n: Int): Unit = {
        Files.writeString(new java.io.File(s"$src/b$run.jsonl").toPath,
          (0 until n).map(i => s"""{"doc_id": ${run * 100 + i}, "text": "t$i"}""")
            .mkString("\n"))
        IncrementalIngest.ingestDocumentsDedup(spark, src, docSchema, dest, ck)
      }
      ingest(1, 5)
      ingest(2, 6)
      val (scanned, progress) = observed(ingest(3, 7))
      assert(progress.map(_._2).sum == 7, progress)
      assert(scanned.exists(_.contains("/src/b3.jsonl")), scanned)
      assert(!scanned.exists(_.contains("/docs")), scanned)
      assert(spark.read.parquet(dest).count() == 7) // t0..t6, once each
    }
  }

  test("a NULL doc_id is never kept and leaves its text unseen; tied least ids are all kept") {
    withTempDir { t =>
      val src = Files.createDirectories(t.resolve("src")).toString
      val (dest, ck) = (s"$t/docs", s"$t/ck")
      def ingest(name: String, rows: String*): Seq[(Long, String)] = {
        Files.writeString(new java.io.File(s"$src/$name").toPath, rows.mkString("\n"))
        IncrementalIngest.ingestDocumentsDedup(spark, src, docSchema, dest, ck)
        spark.read.parquet(dest).select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      }
      assert(ingest("b1.jsonl",
        """{"doc_id": null, "text": "x"}""",
        """{"text": "y"}""",
        """{"doc_id": 9, "text": "w"}""",
        """{"text": "w"}""",
        """{"doc_id": 5, "text": "z"}""",
        """{"doc_id": 5, "text": "z"}""",
        """{"doc_id": 6, "text": "z"}""") ==
        Seq(5L -> "z", 5L -> "z", 9L -> "w"))
      // x and y kept nothing, so they are still unseen; z and w are seen
      assert(ingest("b2.jsonl",
        """{"doc_id": 7, "text": "x"}""",
        """{"doc_id": 8, "text": "y"}""",
        """{"doc_id": 1, "text": "z"}""",
        """{"doc_id": 2, "text": "w"}""") ==
        Seq(5L -> "z", 5L -> "z", 7L -> "x", 8L -> "y", 9L -> "w"))
    }
  }
}

/** The parquet file sink's commit protocol with a job commit that
  * always fails: the batch's rows files are written, its sink log
  * entry never is.
  */
class FailingCommitProtocol(jobId: String, path: String)
    extends ManifestFileCommitProtocol(jobId, path) {
  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    throw new java.io.IOException("sink commit failed")
}
