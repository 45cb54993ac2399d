package graft.streaming

import graft.SparkSpec

/** Streaming MinHash-LSH near-dup: a new doc is matched against
  * history from EARLIER batches (state, not rescans), dissimilar docs
  * never pair, and an AvailableNow replay of the same inputs appends
  * nothing new (checkpointed state, deterministic emission).
  */
class StreamingNearDupSpec extends SparkSpec {

  private val base = ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 " * 4).trim

  test("cross-batch near-dup pairs surface; dissimilar docs don't") {
    withTempDir { t =>
      val src = java.nio.file.Files.createDirectories(t.resolve("src")).toString
      val ck = s"$t/ck"
      val out = s"$t/pairs"
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      def drop(name: String, rows: (Long, String)*): Unit =
        java.nio.file.Files.writeString(
          new java.io.File(s"$src/$name").toPath,
          ("doc_id|text" +: rows.map { case (id, t) => s"$id|$t" }).mkString("\n"))
      try {
        def drain(): Unit = {
          val docs = spark.readStream
            .schema("doc_id LONG, text STRING")
            .option("header", "true").option("sep", "|").csv(src)
          val q = StreamingNearDup.nearDupPairs(docs)
            .writeStream.format("parquet").option("path", out)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", ck).start()
          q.awaitTermination()
        }
        def pairs(): Set[(Long, Long)] =
          spark.read.parquet(out).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet

        // batch 1: doc 1 = base text, doc 2 = unrelated vocabulary
        drop("b1.csv", 1L -> base, 2L -> ("x1 x2 x3 x4 x5 x6 x7 x8 " * 5).trim)
        drain()
        assert(pairs().isEmpty, s"unexpected pairs in batch 1: ${pairs()}")

        // batch 2: doc 3 repeats doc 1's text verbatim (signature
        // identical, est = 1.0) — must pair with HISTORY (1, 3); doc 4
        // is fresh vocabulary and must stay unpaired
        drop("b2.csv", 3L -> base, 4L -> ("y1 y2 y3 y4 y5 y6 y7 y8 " * 5).trim)
        drain()
        assert(pairs() == Set((1L, 3L)), s"got ${pairs()}")

        // batch 3 (replay shape): nothing new — no duplicate emissions
        drain()
        assert(pairs() == Set((1L, 3L)), s"replay appended: ${pairs()}")

        // batch 4: near (not exact) duplicate of doc 1 — one word
        // changed; signature overlap stays ≥ threshold
        drop("b4.csv", 5L -> base.replace("w5", "zz"))
        drain()
        assert(pairs().contains((1L, 5L)) && pairs().contains((3L, 5L)),
          s"near-dup missed: ${pairs()}")
      } finally {
        prev match {
          case Some(v) => spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", v)
          case None => spark.conf.unset(
            "spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
  }

  test("banded signatures match the batch Dedup banding shape") {
    import spark.implicits._
    val docs = Seq((1L, base), (2L, base), (3L, "")).toDF("doc_id", "text")
    val banded = StreamingNearDup.bandedSignatures(docs).collect()
    // 8 bands per non-empty doc; empty doc dropped (explode semantics)
    assert(banded.length == 16)
    val byDoc = banded.groupBy(_.getLong(1))
    // identical text ⇒ identical buckets in every band
    assert(byDoc(1L).map(_.getString(0)).sorted.sameElements(
      byDoc(2L).map(_.getString(0)).sorted))
  }

  test("forced 3-batch drain emits the board row's exact normalized pair set") {
    withTempDir { t =>
      // The board row drains documents.parquet in ONE AvailableNow
      // micro-batch; the least/greatest orientation normalization
      // exists precisely so a SPLIT drain (several files, several
      // batches, orientation depending on arrival order) emits the same
      // relation. Force that regime — 3-file copy, maxFilesPerTrigger=1
      // — and hold the output to set-equality with the single-batch
      // board result (itself DuckDB-hash-gated).
      import spark.implicits._
      import org.apache.spark.sql.functions.{least, greatest}
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", $"text")
      val srcDir = s"$t/docs3"
      docs.repartition(3).write.parquet(srcDir)
      assert(new java.io.File(srcDir).listFiles()
        .count(_.getName.endsWith(".parquet")) >= 3)
      val got = EventsStream.withRocksDbStateStore(spark) {
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        val ck = t.resolve("ck")
        val q = StreamingNearDup.nearDupPairs(stream).toDF()
          .writeStream.format("memory").queryName("snd_mb_sink")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ck.toString).start()
        q.awaitTermination()
        val nBatches = q.recentProgress.count(_.numInputRows > 0)
        assert(nBatches >= 3, s"expected a >=3-batch drain, got $nBatches")
        val r = spark.table("snd_mb_sink")
          .select(least($"doc_a", $"doc_b").as("doc_a"),
            greatest($"doc_a", $"doc_b").as("doc_b"), $"est_jaccard")
          .distinct().collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
        r
      }
      val single = graft.SparkEntry.queries("stream_neardup_pairs")(spark, sf)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      assert(got == single,
        s"batch-split changed the emitted relation: only-multi=${got -- single}, " +
          s"only-single=${single -- got}")
      assert(got.nonEmpty, "vacuous: corpus produced no near-dup pairs")
    }
  }
}
