package graft.streaming

import java.nio.file.Files

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
      val store = s"$t/fp"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))

      def drop(name: String, rows: String*): Unit =
        Files.writeString(new java.io.File(s"$src/$name").toPath,
          rows.mkString("\n"))
      def ingest(): Set[Long] = {
        IncrementalIngest.ingestDocumentsDedup(spark, src, schema, dest, ck, store)
        spark.read.parquet(dest).select("doc_id")
          .collect().map(_.getLong(0)).toSet
      }

      // run 1: in-batch dup (2 is a copy of 1) collapses to canonical 1
      drop("b1.jsonl",
        """{"doc_id": 1, "text": "alpha beta"}""",
        """{"doc_id": 2, "text": "alpha beta"}""",
        """{"doc_id": 3, "text": "gamma"}""")
      assert(ingest() == Set(1L, 3L))

      // run 2: doc 10 repeats run 1's content (dropped via the STORE,
      // not the batch); doc 11 is new
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
      val store = s"$t/fp"
      Files.writeString(new java.io.File(s"$src/b1.jsonl").toPath, Seq(
        """{"doc_id": 1, "text": "alpha"}""",
        """{"doc_id": 2, "text": "alpha"}""",
        """{"doc_id": 3, "text": "beta"}""").mkString("\n"))
      // a regular file where the destination directory should be: the
      // destination write fails after the batch is deduped
      Files.writeString(dest, "not a directory")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        IncrementalIngest.ingestDocumentsDedup(spark, src, docSchema,
          dest.toString, ck, store)
      }
      Files.delete(dest)
      IncrementalIngest.ingestDocumentsDedup(spark, src, docSchema,
        dest.toString, ck, store)
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
      val store = s"$t/fp"
      def ingest(run: Int): Unit = {
        Files.writeString(new java.io.File(s"$src/b$run.jsonl").toPath,
          (0 until 4).map(i =>
            s"""{"doc_id": ${run * 10 + i}, "text": "t${i % 3}-$run"}""")
            .mkString("\n"))
        IncrementalIngest.ingestDocumentsDedup(spark, src, docSchema, dest, ck, store)
      }
      ingest(1)
      ingest(2)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      ingest(3)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0)
      assert(spark.read.parquet(dest).count() == 9)
    }
  }
}
